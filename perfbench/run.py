#!/usr/bin/env python3
"""Layered benchmark of pdftotext_spark on one host.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Builds the seeded corpus (cached under ``.perfbench_cache/``), starts
one driver on ``local[<nproc>]``, warms up, then runs the workload's
job back to back (closed loop, one job at a time) until ``--seconds``
of job time have passed, checking every job's output. The last stdout
line is one JSON object ``{correct, attempted, failed, metrics}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (Spark event log on, UDF trace hook on for every other
job). Exits 1 when a correctness gate fails, 2 when the program is
missing. See README.md beside this file for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("extract_mixed", "extract_longtext", "curate_docs")
# The first job of a session pays Python worker start-up, package
# import and code generation (15-50 s on 4 vCPUs); JIT compiler threads
# then keep slowing the next extraction job. A curation pass is long
# enough (about 15 s) that one cold pass leaves it warm.
WARMUP_REPS = {"extract_mixed": 2, "extract_longtext": 2, "curate_docs": 1}
DRIVER_MEMORY = "3g"

END_TO_END = {
    "rows_per_s": "1/s",
    "item_us_p50": "us",
    "item_us_p99": "us",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

_OP_METRICS = {
    "wall_s": "s", "jobs": "count", "scan_nodes": "count",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "executor_cpu_s": "s", "task_s_max": "s",
}


def per_layer_units() -> dict[str, str]:
    from workloads import CURATION_QUERIES

    units = {
        "core.pdf_us_per_turn": "us", "core.pdf_b64_us_per_turn": "us",
        "core.plain_us_per_turn": "us", "html.us_per_turn": "us",
        "core.us_per_kb": "us/KB", "core.replay_rows_per_s": "1/s",
        "core.share_of_executor_run": "ratio",
        "functions.batches": "count", "functions.rows_per_batch": "count",
        "functions.arrow_read_s": "s", "functions.parse_s": "s",
        "functions.frame_build_s": "s", "functions.emit_gap_s": "s",
        "functions.boundary_frac": "ratio", "functions.parse_over_extract": "ratio",
        "plans.run_extraction_s": "s", "plans.assemble_s": "s",
        "plans.tasks": "count", "plans.executor_run_s": "s",
        "plans.executor_cpu_s": "s", "plans.cpu_busy_frac": "ratio",
        "plans.task_s_median": "s", "plans.task_s_max": "s",
        "plans.input_bytes": "bytes", "plans.output_bytes": "bytes",
        "plans.gc_s": "s", "plans.shuffle_write_bytes": "bytes",
        "plans.shuffle_read_bytes": "bytes", "plans.spill_bytes": "bytes",
        "plans.parallel_efficiency": "ratio",
    }
    for q in CURATION_QUERIES:
        for m, u in _OP_METRICS.items():
            units[f"operators.{q}.{m}"] = u
    units["spark.jvm_peak_rss_mb"] = "MB"
    units["sources.gen_s"] = "s"
    units["trace_overhead_frac"] = "ratio"
    return units


def start_spark(work: Path, cpus: int, event_dir: Path | None):
    from pyspark.sql import SparkSession

    from pdftotext_spark.plans.pipeline import session_confs

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        )
        .config("spark.hadoop.hadoop.tmp.dir", str(work / "tmp"))
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    for k, v in session_confs().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM (it exits on stdin EOF), and
    wait for it; Python workers die with the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def extraction_layers(plain, traced, groups, trace_dir, rows_per_s, cpus):
    """``functions.*`` from the traced jobs' UDF trace lines, ``plans.*``
    and the executor share of ``core`` from the untraced jobs' event-log
    totals. Returns ``(values, errors)``."""
    import eventlog
    import udftrace
    from statistics import median

    values = udftrace.aggregate(udftrace.read_lines(trace_dir), len(traced))
    errors = []
    extract_s = sum(r.extract_us_total for r in traced) / len(traced) / 1e6
    values["functions.parse_over_extract"] = values["functions.parse_s"] / extract_s
    if abs(values["functions.parse_over_extract"] - 1) > 0.10:
        errors.append(
            f"UDF trace parse_s {values['functions.parse_s']:.3f} s and "
            f"sum(extract_us) {extract_s:.3f} s disagree by more than 10%"
        )
    values["trace_overhead_frac"] = 1 - median([r.rows / r.wall_s for r in traced]) / rows_per_s

    def group(r, phase):
        return groups.get(f"{r.tag}|{phase}", eventlog.GroupTotals())

    jobs = [(group(r, "extract"), group(r, "assemble")) for r in plain]

    def per_job(f):
        return median([f(gs) for gs in jobs])

    run_s = sum(g.run_s for gs in jobs for g in gs)
    values.update({
        "plans.run_extraction_s": median([r.phase_s["extract"] for r in plain]),
        "plans.assemble_s": median([r.phase_s["assemble"] for r in plain]),
        "plans.tasks": per_job(lambda gs: sum(g.tasks for g in gs)),
        "plans.executor_run_s": per_job(lambda gs: sum(g.run_s for g in gs)),
        "plans.executor_cpu_s": per_job(lambda gs: sum(g.cpu_s for g in gs)),
        "plans.cpu_busy_frac": sum(g.cpu_s for gs in jobs for g in gs) / run_s if run_s else 0.0,
        "plans.task_s_median": per_job(lambda gs: median([t for g in gs for t in g.task_s])),
        "plans.task_s_max": per_job(lambda gs: max(t for g in gs for t in g.task_s)),
        "plans.gc_s": per_job(lambda gs: sum(g.gc_s for g in gs)),
        "core.share_of_executor_run": median(
            [r.extract_us_total / 1e6 / ex.run_s for r, (ex, _) in zip(plain, jobs)]
        ),
    })
    for key in ("input_bytes", "output_bytes", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"):
        values[f"plans.{key}"] = per_job(lambda gs: sum(getattr(g, key) for g in gs))
    return values, errors


def curation_layers(plain, groups):
    """``operators.<q>.*`` per curation query: timed wall, plan scan
    count, and event-log totals of the query's job group."""
    import eventlog
    from statistics import median
    from workloads import CURATION_QUERIES

    values = {}
    for q in CURATION_QUERIES:
        gs = [groups.get(f"{r.tag}|{q}", eventlog.GroupTotals()) for r in plain]
        values.update({
            f"operators.{q}.wall_s": median([r.phase_s[q] for r in plain]),
            f"operators.{q}.jobs": median([g.jobs for g in gs]),
            f"operators.{q}.scan_nodes": plain[0].scan_nodes[q],
            f"operators.{q}.shuffle_write_bytes": median([g.shuffle_write_bytes for g in gs]),
            f"operators.{q}.spill_bytes": median([g.spill_bytes for g in gs]),
            f"operators.{q}.executor_cpu_s": median([g.cpu_s for g in gs]),
            f"operators.{q}.task_s_max": median([max(g.task_s, default=0.0) for g in gs]),
        })
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pdftotext_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdftotext_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_cache"
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # everything the run writes, Spark and Python temp files included,
    # stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM's perf-data file would go to /tmp whatever the tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [str(ROOT), str(HERE)]
    import shutil
    import tempfile

    tempfile.tempdir = None

    import corpus
    import eventlog
    from statistics import median

    from stats import PeakRss, percentile
    from workloads import Curation, Extraction

    corpus_dir, gen_s = corpus.ensure(str(work), args.workload, args.seed)
    cpus = os.cpu_count() or 1
    trace = bool(args.trace)
    run_dir = work / "runs" / str(os.getpid())
    event_dir = run_dir / "eventlog" if trace else None
    trace_dir = run_dir / "udftrace"
    if args.workload == "curate_docs":
        job = Curation(corpus_dir, str(work))
    else:
        job = Extraction(
            corpus_dir, str(run_dir), golden_is_payload=args.workload == "extract_longtext"
        )
    extracting = isinstance(job, Extraction)
    # The trace hook is read from the Python workers' environment, and
    # Spark keeps one worker pool per distinct environment: toggling it
    # per job alternates between two warm pools.
    modes = ("plain", "traced") if trace and extracting else ("plain",)

    t_setup = time.perf_counter()
    spark = start_spark(work, cpus, event_dir)
    try:
        job.load()
        log(f"session and corpus load {time.perf_counter() - t_setup:.3f} s")
        env = spark.sparkContext.environment

        def run_one(tag: str, mode: str):
            if mode == "traced":
                env["SPARK_GRAFT_TRACE_DIR"] = str(trace_dir)
            else:
                env.pop("SPARK_GRAFT_TRACE_DIR", None)
            t0 = time.perf_counter()
            rep = job.run(spark, f"{tag}.{mode}", trace)
            phases = ", ".join(f"{k} {v:.3f}" for k, v in rep.phase_s.items())
            log(f"{rep.tag} job {rep.wall_s:.3f} s ({phases}), with checks "
                f"{time.perf_counter() - t0:.3f} s")
            return rep

        warm = [run_one(f"warm{i}", m) for i in range(WARMUP_REPS[args.workload]) for m in modes]
        setup_s = time.perf_counter() - t_setup
        shutil.rmtree(trace_dir, ignore_errors=True)

        reps = []
        timed = 0.0
        with PeakRss() as rss:
            while not reps or timed < args.seconds:
                for m in modes:
                    reps.append((m, run_one(f"rep{len(reps) // len(modes)}", m)))
                    timed += reps[-1][1].wall_s
        log(f"peak RSS: Python processes {rss.peak / 2**20:.1f} MB, "
            f"JVM {rss.jvm_peak / 2**20:.1f} MB")
        core = job.replay() if trace and extracting else {}
    finally:
        stop_spark(spark)

    errors = [e for r in warm for e in r.errors] + [e for _, r in reps for e in r.errors]
    plain = [r for m, r in reps if m == "plain"]
    items = [x for r in plain for x in r.items_us]
    rows_per_s = median([r.rows / r.wall_s for r in plain])
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace}: {len(plain)} timed jobs, "
        f"{len(items)} latency samples, setup {setup_s:.2f} s",
        flush=True,
    )
    if not trace:
        units = END_TO_END
        values = {
            "rows_per_s": rows_per_s,
            "item_us_p50": percentile(items, 50),
            "item_us_p99": percentile(items, 99),
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup_s,
        }
    else:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values["sources.gen_s"] = gen_s
        values["spark.jvm_peak_rss_mb"] = rss.jvm_peak / 2**20
        values.update(core)
        logs = list(event_dir.iterdir())
        if len(logs) != 1:
            errors.append(f"expected one event log in {event_dir}, found {len(logs)}")
        groups = eventlog.parse_file(str(logs[0])) if len(logs) == 1 else {}
        if extracting:
            traced = [r for m, r in reps if m == "traced"]
            layer, errs = extraction_layers(
                plain, traced, groups, str(trace_dir), rows_per_s, cpus
            )
            values.update(layer)
            values["plans.parallel_efficiency"] = rows_per_s / (
                cpus * values["core.replay_rows_per_s"]
            )
            errors += errs
        else:
            values.update(curation_layers(plain, groups))
    shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        log(f"gate failed: {e}")
    print(json.dumps({
        "correct": not errors,
        "attempted": len(items),
        "failed": sum(r.failed for r in plain),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 1 if errors else 0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
