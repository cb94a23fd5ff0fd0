"""Seeded input generators.

Every input the benchmark feeds the engine is a pure function of the seed
and the sizes given here; only the ``created`` stamp a wire record carries
is taken from the clock when the record is published, because it is the
origin of the latency measurement.

Wire records follow the reference's Kafka shape: one comma-joined string
per row. Fields are rendered so that ``from_csv`` reads them back exactly:
doubles in shortest round-trip form (``repr``), timestamps as UTC ISO-8601
with microseconds.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: event time of event 0 (2024-01-01T00:00:00Z), in microseconds
EVENT_T0_US = 1_704_067_200_000_000


def iso_us(us: np.ndarray) -> np.ndarray:
    """UTC ISO-8601 strings with microseconds for epoch-µs integers."""
    return np.char.add(np.datetime_as_string(us.astype("datetime64[us]"), unit="us"), "Z")


def events(seed: int, n: int, first_id: int = 0, step_us: int = 200_000) -> dict[str, np.ndarray]:
    """``n`` events with ids ``first_id..first_id+n-1``, event time
    increasing by ``step_us`` plus jitter below one step (so ids and event
    times share one order), values as whole cents in [0.01, 100.00)."""
    rng = np.random.default_rng([seed, first_id, n])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = EVENT_T0_US + ids * step_us + rng.integers(0, step_us, n)
    return {
        "event_id": ids,
        "ts": ts.astype(np.int64),
        "user_id": rng.integers(0, 1000, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)],
        "cents": rng.integers(1, 10_000, n).astype(np.int64),
    }


def take(ev: dict[str, np.ndarray], idx: np.ndarray) -> dict[str, np.ndarray]:
    return {k: v[idx] for k, v in ev.items()}


def concat(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def values(ev: dict[str, np.ndarray]) -> np.ndarray:
    return ev["cents"] / 100.0


def wire_lines(ev: dict[str, np.ndarray], created_us: int) -> list[str]:
    """Render events as wire strings stamped with ``created_us``."""
    ts = iso_us(ev["ts"])
    created = iso_us(np.array([created_us], dtype=np.int64))[0]
    return [
        f"{i},{t},{u},{et},{v!r},{created}"
        for i, t, u, et, v in zip(
            ev["event_id"].tolist(), ts.tolist(), ev["user_id"].tolist(),
            ev["event_type"].tolist(), values(ev).tolist(),
        )
    ]


def publish(dirpath: str, name: str, lines: list[str]) -> None:
    """Write a file under a hidden name, then rename it into place: the
    file source skips names starting with ``.``, so a stream never reads a
    half-written file."""
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(dirpath, name))


def redelivered(seed: int, ev: dict[str, np.ndarray], n_files: int, frac: float, max_lag: int):
    """Split ``ev`` into ``n_files`` consecutive files and redeliver a
    ``frac`` share of events, each copy landing 0..``max_lag`` files after
    its original. Returns per-file event dicts (copies are identical rows)."""
    rng = np.random.default_rng([seed, 7])
    n = len(ev["event_id"])
    home = np.arange(n) * n_files // n
    dup = np.sort(rng.choice(n, int(n * frac), replace=False))
    dup_file = np.minimum(home[dup] + rng.integers(0, max_lag + 1, len(dup)), n_files - 1)
    files = []
    for f in range(n_files):
        idx = np.concatenate([np.flatnonzero(home == f), dup[dup_file == f]])
        files.append(take(ev, idx))
    return files


class LiveGenerator(threading.Thread):
    """Open-loop publisher: one file of ``rows`` events every
    ``interval_s``, for ``n_files`` files, on a fixed schedule that does
    not slow down when the engine does. Each file's rows are stamped with
    the time the file was due, so a late generator cannot hide a stall;
    ``lag_ms`` records how late each publish finished."""

    def __init__(self, seed: int, dirpath: str, first_id: int, rows: int, interval_s: float, n_files: int):
        super().__init__(name="live-generator", daemon=True)
        self.seed, self.dirpath, self.first_id = seed, dirpath, first_id
        self.rows, self.interval_s, self.n_files = rows, interval_s, n_files
        self.published: list[tuple[int, int]] = []  # (first event id, created µs)
        self.lag_ms: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            # Render every file before the clock starts; only the created
            # stamp is formatted inside the schedule.
            batches = [
                events(self.seed, self.rows, self.first_id + i * self.rows)
                for i in range(self.n_files)
            ]
            start = time.time() + self.interval_s
            for i, ev in enumerate(batches):
                due = start + i * self.interval_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                created_us = int(due * 1e6)
                publish(self.dirpath, f"live-{i:06d}.txt", wire_lines(ev, created_us))
                self.lag_ms.append((time.time() - due) * 1e3)
                self.published.append((int(ev["event_id"][0]), created_us))
        except Exception as exc:  # raised again by the workload after join()
            self.error = exc


def write_events_parquet(path: str, seed: int, n: int) -> None:
    """The ``events`` table in its registered schema (µs timestamps, JSON props)."""
    ev = events(seed, n, step_us=1_000_000)
    rng = np.random.default_rng([seed, 11])
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]
    table = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"].tolist(), type=pa.string()),
        "value": pa.array(values(ev)),
        "props": pa.array(props, type=pa.string()),
    })
    pq.write_table(table, path)


VOCAB = (
    "the a of and to in is it data stream spark table query join merge scan "
    "sort group window batch value key row column filter hash vector order "
    "line part customer agg small big fast slow"
).split()


def documents_table(seed: int, n: int) -> pa.Table:
    """Small-vocabulary corpus with planted duplicates: about 8% of
    documents are exact copies (up to case) of an earlier one and 8% are
    near copies with one word replaced."""
    rng = np.random.default_rng([seed, 21])
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))].upper() if r < 0.02 else texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)].tolist()))
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.tolist(), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64, clusters: int = 12) -> pa.Table:
    """Clustered float32 vectors: ``clusters`` random unit centres plus
    Gaussian noise; ``label`` is the centre a vector was drawn around."""
    rng = np.random.default_rng([seed, 31])
    centres = rng.normal(size=(clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    vecs = (centres[label] + rng.normal(scale=0.15, size=(n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
