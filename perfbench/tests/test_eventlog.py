import json

import pytest

import eventlog


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, cpu_ns, *, failed=False, read=0, written=0,
          sw=0, remote=0, local=0, spill=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc, "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                     "Local Bytes Read": local},
        },
    }


def _log(*events):
    return [json.dumps(e) for e in events]


def test_tasks_are_totalled_per_job_group():
    lines = _log(
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "rep0|extract"),
        _task(0, 1500, 1_000_000_000, read=100, sw=40),
        _task(1, 500, 250_000_000, written=70, local=30, remote=10, spill=5, gc=20),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        _job(1, [1, 2], "rep0|assemble"),  # stage 1 stays with its first job
        _task(2, 250, 0, failed=True),
        _job(2, [3]),
        _task(3, 100, 0),
    )
    g = eventlog.parse(lines)
    ex = g["rep0|extract"]
    assert (ex.jobs, ex.tasks, ex.failed_tasks) == (1, 2, 0)
    assert ex.run_s == pytest.approx(2.0)
    assert ex.cpu_s == pytest.approx(1.25)
    assert ex.gc_s == pytest.approx(0.02)
    assert (ex.input_bytes, ex.output_bytes) == (100, 70)
    assert (ex.shuffle_write_bytes, ex.shuffle_read_bytes, ex.spill_bytes) == (40, 40, 5)
    assert ex.task_s == [1.5, 0.5]
    asm = g["rep0|assemble"]
    assert (asm.jobs, asm.tasks, asm.failed_tasks) == (1, 1, 1)
    assert g[""].tasks == 1 and g[""].jobs == 1


def test_task_without_metrics_is_counted_only():
    lines = _log(_job(0, [0], "q"), {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                                      "Task Info": {"Failed": True}})
    g = eventlog.parse(lines)["q"]
    assert (g.tasks, g.failed_tasks, g.run_s, g.task_s) == (1, 1, 0.0, [])


def test_parse_file(tmp_path):
    p = tmp_path / "app-1"
    p.write_text("\n".join(_log(_job(0, [0], "g"), _task(0, 10, 5))) + "\n\n")
    assert eventlog.parse_file(str(p))["g"].tasks == 1
