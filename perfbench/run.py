"""Benchmark entry point.

    python3 perfbench/run.py --workload import_report --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. One run is one fresh
process: it starts the engine's own Spark session
(``session.get_spark``, ``local[nproc]``), builds the workload's state
from ``--seed`` in a fresh directory under ``.perfbench/``, warms up,
replays a fixed number of cycles (as many as fit the
``--seconds`` budget at the workload's nominal cycle time, at least
one), checks every op's output, deletes its directory and prints one
JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from recorder import Recorder, jvm_pid, proc_peak_rss_mb, proc_start_epoch  # noqa: E402

SPARK_KEYS = (
    "jobs", "stages", "tasks", "job_busy_s", "driver_self_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
)
SETUP_KEYS = ("session", "fixtures", "backfill", "store_build", "warmup", "oracle")
# Counts a workload reports from its final state (``layer_counts``).
COUNT_UNITS = {
    "registry.rows": "count",
    "ingest.table_files": "count",
    "rollup.store_files": "count",
    "rollup.store_mb": "MB",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec: Recorder, setup_s: float) -> dict:
    n = len(rec.cycles)
    return {
        "setup_s": (setup_s, "s"),
        "write_p50_s": (_median(rec.latencies("write")), "s"),
        "read_p50_s": (_median(rec.latencies("read")), "s"),
        "cycle_s": (_median(rec.cycles), "s"),
        "cpu_s_per_cycle": ((rec.jvm_cpu_s + rec.python_cpu_s) / n, "s"),
    }


def per_layer(rec: Recorder, wl, setup: dict) -> dict:
    layers = rec.layer_self()

    def per_call(name: str) -> float:
        total, calls = layers.get(name, (0.0, 0))
        return total / calls if calls else 0.0

    m: dict = {f"setup.{k}_s": (setup.get(f"setup.{k}_s", 0.0), "s") for k in SETUP_KEYS}
    for name in ("register_snapshot", "set_status", "ensure_lookup", "active"):
        m[f"registry.{name}_s"] = (per_call(f"registry.{name}"), "s")
    writes = [o for o in rec.ops if o.kind == "write"]
    reads = [o for o in rec.ops if o.kind == "read"]
    reg_calls = sum(c for n, (_, c) in rec.layer_self("write").items() if n.startswith("registry."))
    m["registry.calls_per_file"] = (reg_calls / len(writes) if writes else 0.0, "count")
    m["ingest.run_file_self_s"] = (per_call("ingest.run_file"), "s")
    for name in ("append", "profile_widths", "maybe_compact"):
        m[f"ingest.{name}_s"] = (per_call(f"ingest.{name}"), "s")
    m["sources.excel_to_csv_s"] = (per_call("sources.excel_to_csv"), "s")
    m["queries.build_s"] = (per_call("queries.build"), "s")
    m["reports.sql_s"] = (per_call("reports.sql"), "s")
    m["reports.collect_s"] = (per_call("reports.collect"), "s")
    m["reports.render_self_s"] = (per_call("reports.render_report"), "s")
    rendered = [o for o in reads if o.catalyst]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (
            statistics.fmean(o.catalyst.get(phase, 0.0) for o in rendered) if rendered else 0.0, "ms",
        )
    for kind, ops in (("write", writes), ("read", reads)):
        for key in SPARK_KEYS:
            unit = "s" if key.endswith("_s") else "MB" if key.endswith("_mb") else "count"
            name = f"driver.{kind}.self_s" if key == "driver_self_s" else f"spark.{kind}.{key}"
            value = statistics.fmean(o.spark.get(key, 0.0) for o in ops) if ops else 0.0
            m[f"{name}_per_op"] = (value, unit)
    m["spark.persisted_rdds_after_op"] = (rec.ops[-1].spark.get("persisted_rdds", 0.0), "count")
    for name in ("ingest", "serve", "serve_distinct", "serve_quantiles"):
        m[f"rollup.{name}_s"] = (per_call(f"rollup.{name}"), "s")
    counts = wl.layer_counts()
    for name, unit in COUNT_UNITS.items():
        m[name] = (counts.get(name, 0.0), unit)
    n = len(rec.cycles)
    m["process.jvm_cpu_s"] = (rec.jvm_cpu_s / n, "s")
    m["process.python_cpu_s"] = (rec.python_cpu_s / n, "s")
    m["process.jvm_peak_rss_mb"] = (proc_peak_rss_mb(jvm_pid(rec.spark)), "MB")
    m["bench.trace_overhead_ratio"] = (rec.cycles_raw_s / sum(rec.cycles), "ratio")
    m["bench.span_coverage"] = (rec.span_coverage(), "ratio")
    m["bench.drift_ratio"] = (rec.cycles[-1] / rec.cycles[0], "ratio")
    return m


def _isolate(work: str) -> None:
    """Keep every temporary file of the run (Python's, Spark's and the
    JVM's) inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # -XX:-UsePerfData: a JVM's monitoring counters file always goes to
    # /tmp/hsperfdata_<user>, outside the run directory. Both the
    # spark-submit launcher JVM and the driver JVM get the flag.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.environ["SPARK_GRAFT_NO_PROGRESS"] = "1"
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill it
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-check")
    args = ap.parse_args(argv)
    t_process = proc_start_epoch()

    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    try:
        import etl_database_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: run from the root of a repository checkout ({e})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    cycles = max(1, round(args.seconds / cls.nominal_cycle_s))

    work = os.path.join(checkout, ".perfbench", f"run-{os.getpid()}")
    _isolate(work)
    spark = None
    try:
        from etl_database_spark.session import get_spark

        setup: dict = {}
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        setup["setup.session_s"] = time.perf_counter() - t0
        rec = Recorder(spark, traced=bool(args.trace))
        os.makedirs(os.path.join(work, "root"))
        wl = cls(spark, rec, os.path.join(work, "root"), args.seed, args.tiny)
        wl.instrument()
        wl.setup(cycles, setup)
        setup_s = time.time() - t_process
        print("perfbench: setup " + " ".join(f"{k}={v:.2f}" for k, v in setup.items())
              + f" total={setup_s:.2f}", file=sys.stderr)
        for c in range(cycles):
            with rec.cycle():
                wl.run_cycle(c)
        rec.unwrap_all()
        print(f"perfbench: cycles {[round(c, 2) for c in rec.cycles]}", file=sys.stderr)
        for kind in ("write", "read"):
            print(f"perfbench: {kind} ops {[round(x, 2) for x in rec.latencies(kind)]}", file=sys.stderr)
        failed, messages = wl.check()
        for msg in messages:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(rec, wl, setup)
            rec.write_spans(
                os.path.join(checkout, ".perfbench", f"spans-{args.workload}-seed{args.seed}.jsonl"),
                rec.spans[0].start if rec.spans else 0.0,
            )
        else:
            metrics = end_to_end(rec, setup_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(rec.ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
