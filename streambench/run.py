"""Benchmark of the stream-to-Parquet engine: one workload per run.

    python3 streambench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` inside a
work directory under ``streambench/.work`` that is deleted at exit. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The line before
it is a record with the workload-specific metric names, sample counts and
a host fingerprint. See ``streambench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["ingest_stream", "maintain_stream", "batch_align_curate"]

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
}

_STREAM_MS = [
    "latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
    "commit_offsets", "fixed", "state_commit",
]
PER_LAYER = {
    **{f"streaming.{p}_ms_p50": "ms" for p in _STREAM_MS},
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.state_rows_total": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.dropped_duplicates": "rows",
    "streaming.rollup_apply_batch_ms_p50": "ms",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    **{
        f"sources.io.{fn}.{k}": unit
        for fn in ("table_latest_version", "read_table_version", "write_table_version", "vacuum_table_versions")
        for k, unit in (("calls", "calls/batch"), ("ms_p50", "ms"))
    },
    "operators.incremental.rollup_merge.calls": "calls/batch",
    **{
        f"queries.{q}.{k}": unit
        for q in ("align_pipeline", "curate_corpus", "similarity_ivf", "text_stats")
        for k, unit in (("build_ms", "ms"), ("exec_s", "s"))
    },
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_share": "share",
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.driver_peak_rss_mb": "MB",
    "generator.lag_ms_p50": "ms",
    "generator.lag_ms_max": "ms",
    "generator.input_rows": "rows",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def fingerprint(spark, cpus: int) -> dict:
    import pyspark

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hdfs_stream_processing_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": cpus,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
        "package_sha256": h.hexdigest()[:16],
    }


def stop(spark, progress) -> None:
    """Stop the queries, remove the listener, stop Spark, and wait for the
    JVM to exit (its Python workers end with it)."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.streams.removeListener(progress)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def run(args, work: str) -> tuple[dict, dict]:
    t_import = time.perf_counter()
    from hdfs_stream_processing_spark import get_spark

    from streambench import check, workloads
    from streambench.tracing import ProgressLog, event_log_counters, peak_rss_mb

    import_s = time.perf_counter() - t_import

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        # no /tmp/hsperfdata file: everything the run writes stays in `work`
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    t = time.perf_counter()
    spark = get_spark(app_name="streambench", cpus=cpus, extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    progress = ProgressLog()
    spark.streams.addListener(progress)
    con = check.connect(work)
    try:
        ctx = workloads.Ctx(spark, args.seed, args.seconds, bool(args.trace), work, progress, con)
        warm, measure = workloads.WORKLOADS[args.workload]
        t = time.perf_counter()
        warm(ctx)
        warmup_s = time.perf_counter() - t
        t0_ms = time.time() * 1e3
        res = measure(ctx)
        t1_ms = time.time() * 1e3
        fp = fingerprint(spark, cpus)
        rss = peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        con.close()
        stop(spark, progress)

    setup_s = import_s + get_spark_s + warmup_s
    e2e = {"setup_s": setup_s, **res.e2e}
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}  # 0 = the layer did not run in this workload
        layers.update(res.layers)
        layers.update(event_log_counters(log_dir, t0_ms, t1_ms, cpus))
        layers.update({
            "session.import_s": import_s,
            "session.get_spark_s": get_spark_s,
            "session.warmup_s": warmup_s,
            "session.driver_peak_rss_mb": rss,
        })
        layers.update({f"traced.{k}": v for k, v in e2e.items()})
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in END_TO_END}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "fingerprint": fp,
        "setup_s": setup_s,
        **res.record,
        "failed_frac": res.failed / max(res.attempted, 1),
        "problems": res.problems[:20],
    }
    result = {
        "correct": res.failed == 0 and not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    # Python workers must import the package from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path[0] = ROOT  # not this directory: its modules are imported as streambench.*
    scratch = os.path.join(ROOT, ".tmp")  # where the package's own helpers stage data
    before = set(os.listdir(scratch)) if os.path.isdir(scratch) else None
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if before is None:
            shutil.rmtree(scratch, ignore_errors=True)
        elif os.path.isdir(scratch):
            for name in set(os.listdir(scratch)) - before:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
