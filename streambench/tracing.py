"""Measurement taken from outside the engine.

Nothing here reaches into ``hdfs_stream_processing_spark``: stream phases
come from Spark's own ``StreamingQueryProgress`` events, executor counters
from the Spark event log, Catalyst phase times from the query's
``QueryPlanningTracker``, and per-call times from wrapping public functions
for the duration of a traced run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from datetime import datetime, timezone
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener


def p50(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: int) -> float:
    """q-th percentile (inclusive linear interpolation); the maximum when
    fewer than two samples."""
    xs = sorted(xs)
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


def iso_ms(ts: str) -> float:
    """Epoch milliseconds of a progress event's ISO timestamp."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1e3


class ProgressLog(StreamingQueryListener):
    """Collects every executed micro-batch's progress (as parsed JSON) per
    query id, and signals when a query has terminated: progress events are
    posted before the termination event on the listener bus."""

    def __init__(self):
        self.batches: dict[str, dict[int, dict]] = {}
        self.terminated: dict[str, threading.Event] = {}
        self.last_started: str | None = None
        self._lock = threading.Lock()

    def _done(self, qid: str) -> threading.Event:
        with self._lock:
            return self.terminated.setdefault(qid, threading.Event())

    def onQueryStarted(self, event) -> None:
        self._done(str(event.id))
        self.last_started = str(event.id)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if "addBatch" not in p.get("durationMs", {}):
            return  # a trigger that found no data
        with self._lock:
            self.batches.setdefault(p["id"], {})[p["batchId"]] = p

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self._done(str(event.id)).set()

    def wait_terminated(self, qid: str, timeout: float = 30.0) -> None:
        if not self._done(qid).wait(timeout):
            raise TimeoutError(f"no termination event for query {qid}")

    def ordered(self, qid: str) -> list[dict]:
        with self._lock:
            return [b for _, b in sorted(self.batches.get(qid, {}).items())]


def trigger_end_ms(p: dict) -> float:
    return iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]


def batch_file_lists(sink_dir: str) -> dict[int, list[dict]]:
    """Files each sink batch committed, from ``_spark_metadata``. A
    ``<n>.compact`` entry lists every live file up to batch n, so a batch's
    own files are those not listed by any earlier batch."""
    meta = os.path.join(sink_dir, "_spark_metadata")
    logs = {}
    for f in os.listdir(meta):
        if f.startswith("."):
            continue
        logs[int(f.split(".")[0])] = os.path.join(meta, f)
    seen: set[str] = set()
    out: dict[int, list[dict]] = {}
    for b in sorted(logs):
        with open(logs[b]) as fh:
            lines = fh.read().splitlines()
        if lines[0] != "v1":
            raise ValueError(f"unknown sink log version {lines[0]!r} in {logs[b]}")
        entries = [json.loads(x) for x in lines[1:] if x]
        out[b] = [e for e in entries if e["action"] == "add" and e["path"] not in seen]
        seen.update(e["path"] for e in entries)
    return out


def committing_batch(file_lists: dict[int, list[dict]]) -> dict[int, int]:
    """``created`` stamp (epoch µs) → id of the sink batch whose files
    hold the rows carrying it."""
    out: dict[int, int] = {}
    for bid, entries in file_lists.items():
        for e in entries:
            col = pq.read_table(urlparse(e["path"]).path, columns=["created"])["created"]
            for c in set(col.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()):
                out[c] = max(out.get(c, bid), bid)
    return out


def commit_latency_ms(stamps: list[int], committed: dict[int, int], batches: list[dict]) -> list[float]:
    """Creation-to-commit latency of each stamp whose rows were committed:
    from the stamp to the end of the trigger that committed them."""
    end = {b["batchId"]: trigger_end_ms(b) for b in batches}
    return [end[committed[c]] - c / 1e3 for c in stamps if c in committed]


def stream_phases(batches: list[dict]) -> dict[str, float]:
    """Per-trigger phase medians and state-store figures of one query."""
    d = [b["durationMs"] for b in batches]
    out = {
        "streaming.batches": float(len(batches)),
        "streaming.latest_offset_ms_p50": p50(x.get("latestOffset", 0) for x in d),
        "streaming.get_batch_ms_p50": p50(x.get("getBatch", 0) for x in d),
        "streaming.query_planning_ms_p50": p50(x.get("queryPlanning", 0) for x in d),
        "streaming.add_batch_ms_p50": p50(x["addBatch"] for x in d),
        "streaming.wal_commit_ms_p50": p50(x.get("walCommit", 0) for x in d),
        "streaming.commit_offsets_ms_p50": p50(x.get("commitOffsets", 0) for x in d),
        "streaming.fixed_ms_p50": p50(x["triggerExecution"] - x["addBatch"] for x in d),
        "streaming.rows_per_batch_p50": p50(b["numInputRows"] for b in batches),
    }
    ops = [b["stateOperators"] for b in batches if b.get("stateOperators")]
    if ops:
        last = ops[-1]
        out["streaming.state_rows_total"] = float(sum(o["numRowsTotal"] for o in last))
        out["streaming.state_memory_bytes"] = float(sum(o["memoryUsedBytes"] for o in last))
        out["streaming.state_commit_ms_p50"] = p50(sum(o["commitTimeMs"] for o in os_) for os_ in ops)
        out["streaming.dropped_duplicates"] = float(sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for os_ in ops for o in os_
        ))
    return out


class CallTimer:
    """Times calls to public functions by swapping module attributes for
    the duration of a ``with`` block. Callers that resolve the function
    from its module at call time (``from m import f`` inside a function
    body, or a module-global lookup) see the wrapper."""

    def __init__(self, targets: list[tuple[object, str, str]]):
        self.targets = targets  # (module, attribute, metric prefix)
        self.calls: dict[str, list[float]] = {prefix: [] for _, _, prefix in targets}
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, prefix: str):
        sink = self.calls[prefix]

        @functools.wraps(fn)
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                sink.append((time.perf_counter() - t) * 1e3)

        return timed

    def __enter__(self):
        for mod, attr, prefix in self.targets:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, prefix))
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def metrics(self, per: int) -> dict[str, float]:
        """``<prefix>.calls`` (calls per ``per`` units of work) and
        ``<prefix>.ms_p50`` for every wrapped function."""
        out = {}
        for prefix, xs in self.calls.items():
            out[f"{prefix}.calls"] = len(xs) / max(per, 1)
            out[f"{prefix}.ms_p50"] = p50(xs)
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of a DataFrame's query execution, forcing
    its physical plan first so that optimization and planning are recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def event_log_counters(log_dir: str, t0_ms: float, t1_ms: float, cores: int) -> dict[str, float]:
    """Job, stage and task counters from the Spark event log, restricted to
    jobs submitted and tasks launched inside [t0_ms, t1_ms]."""
    jobs = stages = tasks = 0
    run_ms = cpu_ns = gc_ms = sw = sr = spill = 0
    # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files.
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs += t0_ms <= ev["Submission Time"] <= t1_ms
                elif kind == "SparkListenerStageCompleted":
                    sub = ev["Stage Info"].get("Submission Time", 0)
                    stages += t0_ms <= sub <= t1_ms
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not t0_ms <= info["Launch Time"] <= t1_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    w = m.get("Shuffle Write Metrics", {})
                    r = m.get("Shuffle Read Metrics", {})
                    sw += w.get("Shuffle Bytes Written", 0)
                    sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    wall = max(t1_ms - t0_ms, 1.0)
    return {
        "spark.jobs": float(jobs),
        "spark.stages": float(stages),
        "spark.tasks": float(tasks),
        "spark.executor_run_ms": float(run_ms),
        "spark.executor_cpu_ms": cpu_ns / 1e6,
        "spark.gc_ms": float(gc_ms),
        "spark.shuffle_write_bytes": float(sw),
        "spark.shuffle_read_bytes": float(sr),
        "spark.spill_bytes": float(spill),
        "spark.busy_share": run_ms / (wall * cores),
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark application's local process pair:
    the JVM's high-water mark plus this Python process's."""
    import resource

    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
