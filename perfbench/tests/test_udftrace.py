import json

import pytest

import udftrace


def _line(rows, read, parse, build, gap):
    return {"pid": 1, "rows": rows, "arrow_read_us": read, "parse_us": parse,
            "frame_build_us": build, "emit_gap_us": gap}


def test_aggregate_per_rep_totals():
    lines = [
        _line(100, 1_000, 6_000, 500, None),  # first batch of a task
        _line(300, 3_000, 14_000, 1_500, 4_000),
    ]
    got = udftrace.aggregate(lines, reps=2)
    assert got["functions.batches"] == 1
    assert got["functions.rows_per_batch"] == 200
    assert got["functions.arrow_read_s"] == pytest.approx(0.002)
    assert got["functions.parse_s"] == pytest.approx(0.010)
    assert got["functions.frame_build_s"] == pytest.approx(0.001)
    assert got["functions.emit_gap_s"] == pytest.approx(0.002)
    assert got["functions.boundary_frac"] == pytest.approx(10_000 / 30_000)


def test_aggregate_of_no_lines_is_zero():
    got = udftrace.aggregate([], reps=1)
    assert set(got.values()) == {0.0}


def test_read_lines_takes_only_trace_files(tmp_path):
    for pid, n in ((11, 2), (12, 1)):
        with open(tmp_path / f"extract_trace_{pid}.jsonl", "w") as f:
            for _ in range(n):
                f.write(json.dumps(_line(5, 1, 2, 3, None)) + "\n")
    (tmp_path / "other.txt").write_text("not a trace")
    assert len(udftrace.read_lines(str(tmp_path))) == 3
