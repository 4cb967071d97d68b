"""L2: aggregate the per-batch lines that ``extract_batches`` appends
under ``SPARK_GRAFT_TRACE_DIR`` (one JSON object per Arrow batch:
``pid, rows, arrow_read_us, parse_us, frame_build_us, emit_gap_us``;
``emit_gap_us`` is null on a task's first batch)."""

from __future__ import annotations

import glob
import json
import os


def read_lines(trace_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "extract_trace_*.jsonl"))):
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def aggregate(lines: list[dict], reps: int) -> dict[str, float]:
    """Per-rep ``functions.*`` totals over ``reps`` jobs' batch lines.

    ``boundary_frac`` is the share of the UDF's own wall that is not
    parsing: Arrow read + frame build + the gap between yielding a
    frame and asking for the next batch."""
    if reps < 1:
        raise ValueError("reps must be positive")
    rows = sum(x["rows"] for x in lines)
    us = {
        k: sum(x[k] or 0 for x in lines)
        for k in ("arrow_read_us", "parse_us", "frame_build_us", "emit_gap_us")
    }
    total = sum(us.values())
    return {
        "functions.batches": len(lines) / reps,
        "functions.rows_per_batch": rows / len(lines) if lines else 0.0,
        "functions.arrow_read_s": us["arrow_read_us"] / 1e6 / reps,
        "functions.parse_s": us["parse_us"] / 1e6 / reps,
        "functions.frame_build_s": us["frame_build_us"] / 1e6 / reps,
        "functions.emit_gap_s": us["emit_gap_us"] / 1e6 / reps,
        "functions.boundary_frac": (total - us["parse_us"]) / total if total else 0.0,
    }
