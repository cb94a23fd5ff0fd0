"""The three workloads. Each drives the engine only through its public entry
points and returns end-to-end figures, per-layer figures (traced runs),
the operations attempted and failed, and the problems its checks found.

Sizes are fixed here so that the same seed gives the same inputs on every
commit; a run repeats its unit of work while ``seconds`` allow. Each
workload's warm-up runs the same work once, untimed, on inputs of the
same size made from the next seed: a smaller warm-up left later passes
still warming.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import time
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_stream_processing_spark import streaming
from hdfs_stream_processing_spark.functions.wire import decode_df
from hdfs_stream_processing_spark.operators import incremental
from hdfs_stream_processing_spark.queries import ORACLES, QUERIES
from hdfs_stream_processing_spark.schemas import schema_for
from hdfs_stream_processing_spark.sources import io as sio
from hdfs_stream_processing_spark.streaming import pipeline as stream_pipeline

from streambench import check, gen
from streambench.tracing import (
    CallTimer,
    batch_file_lists,
    catalyst_phases,
    commit_latency_ms,
    committing_batch,
    p50,
    pct,
    stream_phases,
)

#: The reference's Kafka value: the registered ``events`` columns except the
#: JSON ``props`` (its commas would need CSV quoting), plus the creation stamp.
WIRE_SCHEMA = T.StructType(
    [f for f in schema_for("events").fields if f.name != "props"]
    + [T.StructField("created", T.TimestampType())]
)

# ingest_stream: a closed catch-up over a staged backlog, then an open loop.
INGEST_FILE_ROWS = 1_000
INGEST_BACKLOG_FILES = 64
INGEST_MAX_FILES_PER_TRIGGER = 8  # 8k rows per catch-up trigger
# 500 rows every 100 ms = 5k rows/s: well inside what a trigger of up to
# 8 files drains, so live latency measures trigger cost, not a growing queue.
INGEST_LIVE_ROWS = 500
INGEST_LIVE_INTERVAL_S = 0.1
INGEST_LIVE_SHARE = 0.6  # share of --seconds spent in the live phase

# maintain_stream: a fixed backlog with ~10% redeliveries, drained repeatedly.
MAINTAIN_EVENTS = 30_000
MAINTAIN_FILES = 15
MAINTAIN_BATCHES = 5
MAINTAIN_DUP_FRAC = 0.10
MAINTAIN_WATERMARK = ("ts", "1 hour")

# batch_align_curate: fixed tables, whole passes of the reference batch
# transform and of the LLM curation queries.
ALIGN_EVENTS = 200_000
LLM_DOCS = 1_000
LLM_VECS = 1_000
#: one query per operator layer of the curation path: llmdata (and the exact
#: dedup it runs), similarity and text
BATCH_QUERIES = ["align_pipeline", "curate_corpus", "similarity_ivf", "text_stats"]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str
    progress: object  # tracing.ProgressLog
    con: object  # duckdb connection

    def dir(self, *parts: str) -> str:
        d = os.path.join(self.work, *parts)
        os.makedirs(d, exist_ok=True)
        return d


def repeat(seconds: float, min_units: int, unit) -> list:
    """Call ``unit()`` at least ``min_units`` times, then again only while
    another call of the mean duration so far still ends within ``seconds``."""
    out, start = [], time.perf_counter()
    while True:
        out.append(unit())
        elapsed = time.perf_counter() - start
        if len(out) >= min_units and elapsed * (len(out) + 1) / len(out) > seconds:
            return out


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)


def _ingest_query(ctx: Ctx, src: str, sink: str, ckpt: str):
    lines = ctx.spark.readStream.option("maxFilesPerTrigger", INGEST_MAX_FILES_PER_TRIGGER).text(src)
    out = streaming.classify_movement(decode_df(lines, WIRE_SCHEMA))
    return streaming.run_to_parquet(out, sink, ckpt, processing_time="0 seconds")


def _stage_backlog(seed: int, src: str, n_files: int, rows: int, first_id: int = 0):
    stamps = []
    for i in range(n_files):
        ev = gen.events(seed, rows, first_id + i * rows)
        created = int(time.time() * 1e6)
        gen.publish(src, f"backlog-{i:06d}.txt", gen.wire_lines(ev, created))
        stamps.append(created)
    return stamps


def warm_ingest(ctx: Ctx) -> None:
    src, sink, ckpt = ctx.dir("warm", "src"), ctx.dir("warm", "sink"), ctx.dir("warm", "ckpt")
    _stage_backlog(ctx.seed + 1, src, INGEST_BACKLOG_FILES, INGEST_FILE_ROWS)
    q = _ingest_query(ctx, src, sink, ckpt)
    q.processAllAvailable()
    q.stop()
    ctx.progress.wait_terminated(str(q.id))


def run_ingest(ctx: Ctx) -> Result:
    rows, live_rows = INGEST_FILE_ROWS, INGEST_LIVE_ROWS
    src, sink, ckpt = ctx.dir("ingest", "src"), ctx.dir("ingest", "sink"), ctx.dir("ingest", "ckpt")
    backlog_rows = INGEST_BACKLOG_FILES * rows
    backlog_created = _stage_backlog(ctx.seed, src, INGEST_BACKLOG_FILES, rows)
    n_live = max(10, int(ctx.seconds * INGEST_LIVE_SHARE / INGEST_LIVE_INTERVAL_S))
    live = gen.LiveGenerator(ctx.seed, src, backlog_rows, live_rows, INGEST_LIVE_INTERVAL_S, n_live)

    t0 = time.time()
    q = _ingest_query(ctx, src, sink, ckpt)
    qid = str(q.id)
    try:
        q.processAllAvailable()  # catch-up phase: the staged backlog
        live.start()
        live.join(timeout=ctx.seconds * 3 + 30)
        if live.is_alive() or live.error is not None:
            raise RuntimeError("live generator did not finish") from live.error
        q.processAllAvailable()  # drain what the live phase published
        t1 = time.time()
    finally:
        q.stop()
    ctx.progress.wait_terminated(qid)
    batches = ctx.progress.ordered(qid)

    # Rows → committing batch through the sink's own file lists.
    files = batch_file_lists(sink)
    sink_files = [urlparse(e["path"]).path for es in files.values() for e in es]
    lat_ms = commit_latency_ms([c for _, c in live.published], committing_batch(files), batches)

    # Catch-up rate: median over the triggers that drained the backlog of
    # rows committed per second of trigger time.
    catchup, done = [], 0
    for b in batches:
        if done >= backlog_rows:
            break
        done += b["numInputRows"]
        catchup.append(b["numInputRows"] / b["durationMs"]["triggerExecution"] * 1e3)
    catchup_rate = p50(catchup)

    # Exact check: every generated row once, with its tier.
    ev = gen.concat(
        [gen.events(ctx.seed, rows, i * rows) for i in range(INGEST_BACKLOG_FILES)]
        + [gen.events(ctx.seed, live_rows, first) for first, _ in live.published]
    )
    created_all = np.concatenate([
        np.repeat(np.array(backlog_created, np.int64), rows),
        np.repeat(np.array([c for _, c in live.published], np.int64), live_rows),
    ])
    bad = check.bad_ingest_ids(ctx.con, check.ingest_expected(ev, created_all), sink_files)
    first_ids = [i * rows for i in range(INGEST_BACKLOG_FILES)] + [f for f, _ in live.published]
    n_files = len(first_ids)
    failed_files = set((np.searchsorted(first_ids, bad, side="right") - 1).tolist())
    problems = [f"ingest: {len(bad)} rows wrong in {len(failed_files)} files"] if len(bad) else []
    if len(lat_ms) != len(live.published):
        problems.append(f"ingest: {len(live.published) - len(lat_ms)} live files never committed")

    res = Result(
        e2e={
            "rows_per_s": catchup_rate,
            "latency_p50_ms": p50(lat_ms),
            "latency_p95_ms": pct(lat_ms, 95),
        },
        attempted=n_files,
        failed=len(failed_files),
        problems=problems,
        record={
            "ingest_catchup_rows_per_s": catchup_rate,
            "catchup_triggers": len(catchup),
            "ingest_latency_p50_ms": p50(lat_ms),
            "ingest_latency_p95_ms": pct(lat_ms, 95),
            "latency_samples": len(lat_ms),
            "live_rows_per_s": live_rows / INGEST_LIVE_INTERVAL_S,
            "backlog_rows": backlog_rows,
            "live_rows": live_rows * len(live.published),
            "wall_s": t1 - t0,
        },
    )
    if ctx.traced:
        res.layers.update(stream_phases(batches))
        all_entries = [e for es in files.values() for e in es]
        res.layers["sink.files_written"] = float(len(all_entries))
        res.layers["sink.bytes_written"] = float(sum(e["size"] for e in all_entries))
        res.layers["generator.lag_ms_p50"] = p50(live.lag_ms)
        res.layers["generator.lag_ms_max"] = max(live.lag_ms)
        res.layers["generator.input_rows"] = float(backlog_rows + live_rows * len(live.published))
    return res


def _maintain_partial(batch_df):
    """A micro-batch's partial rollup: events and integer cents per
    (event_type, hour)."""
    return batch_df.groupBy(
        F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def _stage_maintain(seed: int, src: str, n_events: int, n_files: int) -> dict[str, np.ndarray]:
    ev = gen.events(seed, n_events)
    files = gen.redelivered(seed, ev, n_files, MAINTAIN_DUP_FRAC, max_lag=2)
    for i, f in enumerate(files):
        gen.publish(src, f"part-{i:06d}.txt", gen.wire_lines(f, int(time.time() * 1e6)))
    return gen.concat(files)


def _drain_maintain(ctx: Ctx, src: str, name: str) -> tuple[str, str, float]:
    table, ckpt = ctx.dir(name, "table"), ctx.dir(name, "ckpt")
    lines = ctx.spark.readStream.option(
        "maxFilesPerTrigger", MAINTAIN_FILES // MAINTAIN_BATCHES
    ).text(src)
    deduped = streaming.stream_dedup(decode_df(lines, WIRE_SCHEMA), ["event_id"], MAINTAIN_WATERMARK)
    t0 = time.perf_counter()
    stream_pipeline.run_stream_rollup(
        deduped, table, ckpt, ["event_type", "hour"], ["n", "cents"], _maintain_partial
    )
    wall = time.perf_counter() - t0
    qid = ctx.progress.last_started
    ctx.progress.wait_terminated(qid)
    return table, qid, wall


def warm_maintain(ctx: Ctx) -> None:
    src = ctx.dir("warm", "src")
    _stage_maintain(ctx.seed + 1, src, MAINTAIN_EVENTS, MAINTAIN_FILES)
    _drain_maintain(ctx, src, "warm")


def run_maintain(ctx: Ctx) -> Result:
    src = ctx.dir("maintain", "src")
    delivered = _stage_maintain(ctx.seed, src, MAINTAIN_EVENTS, MAINTAIN_FILES)
    want = check.rollup_expected(ctx.con, delivered)
    batches, problems, failed, attempted = [], [], 0, 0
    timer = CallTimer([
        (sio, "table_latest_version", "sources.io.table_latest_version"),
        (sio, "read_table_version", "sources.io.read_table_version"),
        (sio, "write_table_version", "sources.io.write_table_version"),
        (sio, "vacuum_table_versions", "sources.io.vacuum_table_versions"),
        (stream_pipeline, "rollup_apply_batch", "streaming.rollup_apply_batch"),
        (incremental, "rollup_merge", "operators.incremental.rollup_merge"),
    ])
    names = itertools.count()
    with timer if ctx.traced else contextlib.nullcontext():
        drains = repeat(ctx.seconds, 1, lambda: _drain_maintain(ctx, src, f"drain-{next(names)}"))
    walls = [wall for _, _, wall in drains]
    for i, (table, qid, _) in enumerate(drains):
        # Every executed batch counts, including the no-data batch Spark runs
        # after the last one to advance the watermark.
        bs = ctx.progress.ordered(qid)
        batches.extend(bs)
        attempted += len(bs)
        got = sio.read_table_version(ctx.spark, table).drop("_batch").toPandas()
        diff = check.compare(got, want)
        n_data = sum(b["numInputRows"] > 0 for b in bs)
        if n_data != MAINTAIN_BATCHES:
            diff.append(f"{n_data} data batches, expected {MAINTAIN_BATCHES}")
        if diff:
            failed += len(bs)
            problems += [f"maintain drain {i}: {p}" for p in diff]
    rows = len(delivered["event_id"])
    batch_ms = [b["durationMs"]["triggerExecution"] for b in batches]
    res = Result(
        e2e={
            "rows_per_s": rows / p50(walls),
            "latency_p50_ms": p50(batch_ms),
            "latency_p95_ms": pct(batch_ms, 95),
        },
        attempted=attempted,
        failed=failed,
        problems=problems,
        record={
            "maintain_rows_per_s": rows / p50(walls),
            "maintain_batch_p50_ms": p50(batch_ms),
            "maintain_batch_p95_ms": pct(batch_ms, 95),
            "drains": len(drains),
            "batch_samples": len(batch_ms),
            "rows_per_drain": rows,
            "distinct_events": MAINTAIN_EVENTS,
            "rollup_groups": len(want),
        },
    )
    if ctx.traced:
        res.layers.update(stream_phases(batches))
        calls = timer.metrics(per=len(batches))  # calls per micro-batch
        for fn in ("table_latest_version", "read_table_version", "write_table_version", "vacuum_table_versions"):
            for k in ("calls", "ms_p50"):
                res.layers[f"sources.io.{fn}.{k}"] = calls[f"sources.io.{fn}.{k}"]
        res.layers["streaming.rollup_apply_batch_ms_p50"] = calls["streaming.rollup_apply_batch.ms_p50"]
        res.layers["operators.incremental.rollup_merge.calls"] = calls["operators.incremental.rollup_merge.calls"]
    return res


def _stage_batch(ctx: Ctx, name: str, seed: int) -> str:
    """An sf directory with the ``events``, ``documents`` and ``embeddings``
    tables in their registered schemas."""
    sf = ctx.dir(name)
    gen.write_events_parquet(os.path.join(sf, "events.parquet"), seed, ALIGN_EVENTS)
    pq.write_table(gen.documents_table(seed, LLM_DOCS), os.path.join(sf, "documents.parquet"))
    pq.write_table(gen.embeddings_table(seed, LLM_VECS), os.path.join(sf, "embeddings.parquet"))
    return sf


def _batch_pass(ctx: Ctx, sf: str, out: str) -> dict:
    """The align pipeline written through ``write_parquet``, then each
    curation query collected. Per query: build ms, run s, DataFrame, and
    the collected result (curation) or output directory (align)."""
    per = {}
    t0 = time.perf_counter()
    for name in BATCH_QUERIES:
        a = time.perf_counter()
        df = QUERIES[name](ctx.spark, sf)
        b = time.perf_counter()
        if name == "align_pipeline":
            sio.write_parquet(df, out)
            result = out
        else:
            result = df.toPandas()
        per[name] = {"build_ms": (b - a) * 1e3, "exec_s": time.perf_counter() - b, "df": df, "result": result}
    return {"wall_s": time.perf_counter() - t0, "queries": per}


def warm_batch(ctx: Ctx) -> None:
    sf = _stage_batch(ctx, "warm", ctx.seed + 1)
    _batch_pass(ctx, sf, os.path.join(sf, "out"))


def run_batch(ctx: Ctx) -> Result:
    sf = _stage_batch(ctx, "batch", ctx.seed)
    n = itertools.count()
    passes = repeat(ctx.seconds, 1, lambda: _batch_pass(ctx, sf, os.path.join(sf, f"out-{next(n)}")))
    walls = [p["wall_s"] for p in passes]

    for t in ("events", "documents", "embeddings"):
        ctx.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    problems, failed = [], 0
    for name in BATCH_QUERIES:
        want = None if name == "align_pipeline" else ctx.con.execute(ORACLES[name]).df()
        for i, p in enumerate(passes):
            got = p["queries"][name]["result"]
            if want is None:
                diff = check.parquet_vs_oracle(ctx.con, got, ORACLES[name])
                shutil.rmtree(got)
            else:
                diff = check.compare(got, want)
            failed += bool(diff)
            problems += [f"batch pass {i} {name}: {d}" for d in diff]

    rows = ALIGN_EVENTS + LLM_DOCS + LLM_VECS
    align_s = p50(p["queries"]["align_pipeline"]["exec_s"] + p["queries"]["align_pipeline"]["build_ms"] / 1e3
                  for p in passes)
    res = Result(
        e2e={
            "rows_per_s": rows / p50(walls),
            "latency_p50_ms": p50(walls) * 1e3,
            "latency_p95_ms": pct(walls, 95) * 1e3,
        },
        attempted=len(walls) * len(BATCH_QUERIES),
        failed=failed,
        problems=problems,
        record={
            "batch_pass_s": p50(walls),
            "align_rows_per_s": ALIGN_EVENTS / align_s,
            "llm_pass_s": p50(walls) - align_s,
            "passes": len(walls),
            "events": ALIGN_EVENTS,
            "documents": LLM_DOCS,
            "vectors": LLM_VECS,
            "result_rows": {
                n: len(r) for n, q in passes[0]["queries"].items() if not isinstance(r := q["result"], str)
            },
        },
    )
    if ctx.traced:
        for name in BATCH_QUERIES:
            res.layers[f"queries.{name}.build_ms"] = p50(p["queries"][name]["build_ms"] for p in passes)
            res.layers[f"queries.{name}.exec_s"] = p50(p["queries"][name]["exec_s"] for p in passes)
        per_pass = []  # Catalyst time of a whole pass, summed over its queries
        for p in passes:
            ph = [catalyst_phases(q["df"]) for q in p["queries"].values()]
            per_pass.append({k: sum(x[k] for x in ph) for k in ph[0]})
        for k in per_pass[0]:
            res.layers[f"catalyst.{k}_ms"] = p50(p[k] for p in per_pass)
    return res


WORKLOADS = {
    "ingest_stream": (warm_ingest, run_ingest),
    "maintain_stream": (warm_maintain, run_maintain),
    "batch_align_curate": (warm_batch, run_batch),
}
