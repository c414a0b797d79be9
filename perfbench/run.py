#!/usr/bin/env python3
"""The repo's benchmark: one seeded, checked run of one workload.

    python3 perfbench/run.py --workload pg_extract --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  Prints one line per metric, then a
last line of JSON with ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (spans, Spark's event log, layer probes).  The
full run record (stamps, spans, failures) is written to
``.perfbench_out/``.  Exit codes: 0 all outputs correct, 1 an output
mismatched, 2 not run from a checkout, 3 workload unavailable (no
PostgreSQL could be spawned).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("pg_extract", "registry")

# per-layer metric → unit; every traced run prints all of them, 0 where
# the workload does not exercise the layer
PER_LAYER_UNITS = {
    "pg.server_copy_s": "s",
    "pgwire.connect_s": "s",
    "pgwire.schema_probe_s": "s",
    "pgwire.probe_bounds_s": "s",
    "pgwire.query_paged_s": "s",
    "pgwire.rows": "count",
    "pgwire.pages": "count",
    "pgwire.decode_rows_per_s": "rows/s",
    "pgwire.arrow_build_s": "s",
    "core.read_sql_s": "s",
    "core.to_arrow_s": "s",
    "sink.parquet_write_s": "s",
    "sink.bytes_written": "B",
    "session.start_s": "s",
    "first_op_s": "s",
    "tables.register_views_s": "s",
    "plan.build_s": "s",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "plan.nodes": "count",
    "spark.drain_s": "s",
    "spark.eager_build_s": "s",
    "spark.result_bytes": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.slot_idle_ratio": "ratio",
    "python.data_sent_bytes": "B",
    "python.data_received_bytes": "B",
    "python.rows_received": "count",
    "cache.persisted_rdds_after_op": "count",
    "cache.storage_bytes": "B",
    "codec.webp_lossless_decode_s": "s",
    "codec.vp8_decode_s": "s",
    "jvm_peak_rss_mib": "MiB",
    "trace.pass_s": "s",
}
# span name → per-layer metric (self time per pass)
SPAN_METRICS = {
    "core.read_sql": "core.read_sql_s",
    "core.to_arrow": "core.to_arrow_s",
    "sink.parquet_write": "sink.parquet_write_s",
    "plan.build": "plan.build_s",
    "spark.drain": "spark.drain_s",
    "spark.eager_build": "spark.eager_build_s",
}
# per-layer values a workload reports as run totals (divided per pass)
PER_PASS_TOTALS = ("sink.bytes_written", "plan.analysis_s", "plan.optimization_s",
                   "plan.planning_s", "plan.nodes")


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    out_dir: str
    process_start: float
    system_tmp: str


def op_metric_names() -> list[str]:
    from perfbench import pg_extract, registry

    return [f"op.{op}_s" for op in pg_extract.OPS + registry.OPS]


def per_layer(rec: dict, session_start_s: float, jvm_rss: float, totals, slots: int) -> dict:
    from perfbench import harness

    measured = rec["measured"]
    passes = len(measured.pass_seconds)
    m = {name: 0.0 for name in PER_LAYER_UNITS}
    m.update({name: 0.0 for name in op_metric_names()})
    for span, secs in rec["tracer"].self_times().items():
        if span in SPAN_METRICS:
            m[SPAN_METRICS[span]] = secs / passes
    for key, value in rec["layers"].items():
        m[key] = value / passes if key in PER_PASS_TOTALS else value
    for op, secs in harness.op_medians(measured.samples).items():
        m[f"op.{op}_s"] = secs
    if totals is not None:
        m.update({
            "spark.jobs": totals.jobs / passes,
            "spark.stages": totals.stages / passes,
            "spark.tasks": totals.tasks / passes,
            "spark.executor_run_s": totals.executor_run_ms / 1000.0 / passes,
            "spark.executor_cpu_s": totals.executor_cpu_ns / 1e9 / passes,
            "spark.gc_s": totals.gc_ms / 1000.0 / passes,
            "spark.result_bytes": totals.result_bytes / passes,
            "spark.shuffle_read_bytes": totals.shuffle_read_bytes / passes,
            "spark.shuffle_write_bytes": totals.shuffle_write_bytes / passes,
            "spark.spill_bytes": totals.spill_bytes / passes,
            "spark.input_bytes": totals.input_bytes / passes,
            "spark.slot_idle_ratio": max(
                0.0, 1.0 - totals.executor_run_ms / (totals.stage_wall_ms * slots))
            if totals.stage_wall_ms else 0.0,
            "python.data_sent_bytes": totals.python_sent_bytes / passes,
            "python.data_received_bytes": totals.python_received_bytes / passes,
            "python.rows_received": totals.python_rows / passes,
        })
    m["session.start_s"] = session_start_s
    m["first_op_s"] = rec["first_op_s"]
    m["jvm_peak_rss_mib"] = jvm_rss
    m["trace.pass_s"] = statistics.median(measured.pass_seconds)
    units = {**PER_LAYER_UNITS, **{n: "s" for n in op_metric_names()}}
    return {k: (v, units[k]) for k, v in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run unwinds like a failed one, so the PostgreSQL
    # cluster, the JVM and the scratch space are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "flaco_spark").is_dir() or not (ROOT / "scripts" / "pg_harness.py").is_file():
        print(f"perfbench: no flaco_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import eventlog, harness

    process_start = harness.process_start_epoch()
    system_tmp = tempfile.gettempdir()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    out_dir = run_dir / "out"
    for d in (run_dir / "tmp", out_dir):
        d.mkdir(parents=True, exist_ok=True)
    # scratch space for this process, its JVM and Python workers
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None

    if args.workload == "pg_extract":
        from perfbench import pg_extract as workload
    else:
        from perfbench import registry as workload
    from scripts.pg_harness import HarnessUnavailable

    ctx = Context(args.seed, args.seconds, bool(args.trace), str(out_dir), process_start,
                  system_tmp)
    try:
        t0 = time.perf_counter()
        spark = harness.start_session(str(run_dir), ctx.trace)
        session_start_s = time.perf_counter() - t0
        harness.log(f"session started in {session_start_s:.1f}s, "
                    f"{time.time() - process_start:.1f}s after process start")
        try:
            stamps = harness.stamps(spark, args.seed, workload.TIMED_ACTION)
            slots = spark.sparkContext.defaultParallelism
            rec = workload.run(ctx, spark)
            jvm_rss = harness.peak_rss_mib(harness.jvm_pid(spark) or 0)
        finally:
            harness.stop_session(spark)
        totals = None
        if ctx.trace:
            per_op = eventlog.parse_event_log_dir(str(run_dir / "eventlog"),
                                                  rec["measured"].windows)
            totals = eventlog.Totals()
            for t in per_op.values():
                totals.add(t)
    except HarnessUnavailable as exc:
        print(f"perfbench: {args.workload} unavailable: {exc}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    measured = rec["measured"]
    if ctx.trace:
        metrics = per_layer(rec, session_start_s, jvm_rss, totals, slots)
        facts = {}
    else:
        metrics, facts = harness.end_to_end(measured, rec["setup_s"])
    failures = rec["failures"]
    attempted = len(measured.samples)
    record = {
        "workload": args.workload,
        "stamps": {**stamps, **rec["stamps"]},
        "facts": {**facts, "failed_ops_ratio": len(failures) / attempted,
                  "op_medians_s": harness.op_medians(measured.samples)},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "failures": failures,
        "self_times_s": rec["tracer"].self_times(),
        "spans": rec["tracer"].as_records(),
    }
    rec_dir = ROOT / ".perfbench_out"
    rec_dir.mkdir(exist_ok=True)
    (rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    print(json.dumps({"stamps": record["stamps"], "facts": record["facts"]}, default=str),
          file=sys.stderr)
    for failure in failures:
        print(f"perfbench: MISMATCH {failure}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": record["metrics"],
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
