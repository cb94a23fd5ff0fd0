"""Tests of the benchmark itself: seeded inputs, the latency mapper, the
output checkers and the metric declarations. No Spark session is started.

    python3 -m pytest streambench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from streambench import check, gen, run, tracing  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    def inputs(seed):
        ev = gen.events(seed, 500)
        files = gen.redelivered(seed, ev, 4, 0.1, max_lag=2)
        pq_path = tmp_path / f"events-{seed}.parquet"
        gen.write_events_parquet(str(pq_path), seed, 300)
        return (
            gen.wire_lines(ev, created_us=1_700_000_000_000_000),
            [gen.wire_lines(f, 0) for f in files],
            pq.read_table(pq_path),
            gen.documents_table(seed, 200),
            gen.embeddings_table(seed, 100),
        )

    a, b, c = inputs(5), inputs(5), inputs(6)
    assert a[0] == b[0] and a[1] == b[1]
    assert all(x.equals(y) for x, y in zip(a[2:], b[2:]))
    assert a[0] != c[0] and a[1] != c[1]
    assert not any(x.equals(y) for x, y in zip(a[2:], c[2:]))


def test_wire_rendering_is_exact_text():
    ev = gen.events(1, 3)
    line = gen.wire_lines(ev, created_us=1_700_000_000_123_456)[0]
    fields = line.split(",")
    assert fields[0] == "0"
    assert fields[1].endswith("Z") and len(fields[1]) == len("2024-01-01T00:00:00.000000Z")
    assert float(fields[4]) == ev["cents"][0] / 100 and fields[4] == repr(ev["cents"][0] / 100)
    assert fields[5] == "2023-11-14T22:13:20.123456Z"


def test_redeliveries_stay_close_to_their_original():
    ev = gen.events(3, 1000)
    files = gen.redelivered(3, ev, 10, 0.1, max_lag=2)
    seen_in: dict[int, list[int]] = {}
    for i, f in enumerate(files):
        for e in f["event_id"].tolist():
            seen_in.setdefault(e, []).append(i)
    assert set(seen_in) == set(range(1000))
    copies = {e: fs for e, fs in seen_in.items() if len(fs) > 1}
    assert len(copies) == 100
    assert all(len(fs) == 2 and 0 <= fs[1] - fs[0] <= 2 for fs in copies.values())


def test_publish_is_atomic_and_hidden_until_renamed(tmp_path):
    gen.publish(str(tmp_path), "f.txt", ["a", "b"])
    assert os.listdir(tmp_path) == ["f.txt"]
    assert (tmp_path / "f.txt").read_text() == "a\nb\n"


def _write_sink(tmp_path, batches_files: dict[int, list[list[int]]], compact_at: int | None = None):
    """A fake file-sink directory: for each batch, parquet files whose rows
    carry the given created stamps; metadata log as the file sink writes it."""
    sink = tmp_path / "sink"
    meta = sink / "_spark_metadata"
    meta.mkdir(parents=True)
    all_entries = []
    for bid, files in batches_files.items():
        entries = []
        for j, stamps in enumerate(files):
            path = sink / f"part-{bid}-{j}.parquet"
            pq.write_table(pa.table({"created": pa.array(stamps, type=pa.timestamp("us"))}), path)
            entries.append({"path": f"file://{path}", "size": path.stat().st_size, "isDir": False,
                            "modificationTime": 0, "blockReplication": 1, "blockSize": 1, "action": "add"})
        all_entries += entries
        name = f"{bid}.compact" if bid == compact_at else str(bid)
        listed = all_entries if bid == compact_at else entries
        (meta / name).write_text("v1\n" + "\n".join(json.dumps(e) for e in listed))
    return str(sink)


def _progress(bid: int, start: str, trigger_ms: int) -> dict:
    return {"batchId": bid, "timestamp": start, "numInputRows": 1,
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms // 2}}


def test_latency_mapper_on_synthetic_progress_log(tmp_path):
    t0 = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in µs
    stamps = [t0, t0 + 100_000, t0 + 200_000, t0 + 300_000]
    sink = _write_sink(tmp_path, {
        0: [[stamps[0]] * 3],
        1: [[stamps[1]], [stamps[2], stamps[2]]],
        2: [[stamps[3]]],
    }, compact_at=2)
    files = tracing.batch_file_lists(sink)
    assert [len(files[b]) for b in (0, 1, 2)] == [1, 2, 1]  # compact entry lists only its own new file
    committed = tracing.committing_batch(files)
    assert committed == {stamps[0]: 0, stamps[1]: 1, stamps[2]: 1, stamps[3]: 2}
    batches = [
        _progress(0, "2023-11-14T22:13:20.050Z", 250),   # ends at t0 + 300 ms
        _progress(1, "2023-11-14T22:13:20.300Z", 400),   # ends at t0 + 700 ms
        _progress(2, "2023-11-14T22:13:20.700Z", 100),   # ends at t0 + 800 ms
    ]
    lat = tracing.commit_latency_ms(stamps + [t0 + 900_000], committed, batches)
    assert lat == pytest.approx([300.0, 600.0, 500.0, 500.0])  # the uncommitted stamp has no sample


def test_percentiles():
    assert tracing.p50([3, 1, 2]) == 2 and tracing.p50([]) == 0.0
    xs = list(range(1, 101))
    assert tracing.pct(xs, 95) == pytest.approx(95.05)
    assert tracing.pct([7.0], 95) == 7.0


def _ingest_case():
    ev = gen.events(9, 50)
    created = np.full(50, 1_700_000_000_000_000, np.int64)
    want = check.ingest_expected(ev, created)
    got = want.to_pandas()
    got["tier"] = np.where(got["value"] > 75, "high", np.where(got["value"] > 25, "mid", "low"))
    return want, got


@pytest.mark.parametrize("defect", ["none", "missing", "duplicated", "altered_value", "altered_tier"])
def test_ingest_checker_catches_planted_defects(tmp_path, defect):
    want, got = _ingest_case()
    if defect == "missing":
        got = got.drop(index=7)
    elif defect == "duplicated":
        got = pd.concat([got, got.iloc[[7]]])
    elif defect == "altered_value":
        got.loc[7, "value"] = np.nextafter(got.loc[7, "value"], 1e9)  # one ulp
    elif defect == "altered_tier":
        got.loc[7, "tier"] = "high" if got.loc[7, "tier"] != "high" else "low"
    path = str(tmp_path / "sink.parquet")
    pq.write_table(pa.Table.from_pandas(got, preserve_index=False), path)
    bad = check.bad_ingest_ids(check.connect(str(tmp_path)), want, [path])
    assert bad.tolist() == ([] if defect == "none" else [7])


@pytest.mark.parametrize("defect", ["none", "missing", "duplicated", "altered"])
def test_rollup_checker_catches_planted_defects(tmp_path, defect):
    ev = gen.events(4, 2_000, step_us=10_000_000)
    dup = gen.take(ev, np.arange(0, 2_000, 10))
    con = check.connect(str(tmp_path))
    want = check.rollup_expected(con, gen.concat([ev, dup]))  # redeliveries count once
    assert int(want["n"].sum()) == 2_000 and int(want["cents"].sum()) == int(ev["cents"].sum())
    got = want.copy()
    if defect == "missing":
        got = got.iloc[1:]
    elif defect == "duplicated":
        got = pd.concat([got, got.iloc[[0]]])
    elif defect == "altered":
        got.loc[0, "cents"] += 1
    assert bool(check.compare(got, want)) == (defect != "none")


@pytest.mark.parametrize("defect", ["none", "missing", "duplicated", "altered"])
def test_oracle_checkers_catch_planted_defects(tmp_path, defect):
    con = check.connect(str(tmp_path))
    oracle = "SELECT i AS k, i * 0.1 AS x, 'r' || i AS s FROM range(20) t(i)"
    got = con.execute(oracle).df()
    if defect == "missing":
        got = got.iloc[1:]
    elif defect == "duplicated":
        got = pd.concat([got, got.iloc[[3]]])
    elif defect == "altered":
        got.loc[3, "x"] = np.nextafter(got.loc[3, "x"], 1e9)
    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(pa.Table.from_pandas(got.iloc[::-1], preserve_index=False), out / "part-0.parquet")
    want = con.execute(oracle).df()
    assert bool(check.compare(got.sample(frac=1, random_state=1), want)) == (defect != "none")
    assert bool(check.parquet_vs_oracle(con, str(out), oracle)) == (defect != "none")


def test_metric_names_and_declaration():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    for name in list(e2e) + list(layers) + run.WORKLOADS:
        assert NAME.fullmatch(name), name
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
