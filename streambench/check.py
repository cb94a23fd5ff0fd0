"""Independent output checks.

Every reference here is computed by DuckDB or numpy from the generated
inputs, never by the engine under test. Comparisons are order-insensitive
multiset comparisons; doubles must be equal, with no tolerance.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb'")
    return con


def tier_sql(col: str) -> str:
    return f"CASE WHEN {col} > 75.0 THEN 'high' WHEN {col} > 25.0 THEN 'mid' ELSE 'low' END"


def ingest_expected(ev: dict[str, np.ndarray], created_us: np.ndarray) -> pa.Table:
    """The rows the sink must hold: each generated event with its created
    stamp; the tier is derived in the check's SQL."""
    return pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"].tolist(), type=pa.string()),
        "value": pa.array(ev["cents"] / 100.0),
        "created": pa.array(created_us, type=pa.timestamp("us")),
    })


def bad_ingest_ids(con, expected: pa.Table, sink_files: list[str]) -> np.ndarray:
    """Event ids the sink got wrong: missing, duplicated, or with any
    field (tier included) different from the generated row."""
    if not sink_files:
        return np.asarray(expected["event_id"])
    con.register("expected_rows", expected)
    files = ", ".join(f"'{f}'" for f in sink_files)
    cols = ("event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, "
            "CAST(created AS TIMESTAMP) AS created")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE got AS
        SELECT {cols}, tier FROM read_parquet([{files}])""")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE want AS
        SELECT {cols}, {tier_sql('value')} AS tier FROM expected_rows""")
    bad = con.execute("""
        SELECT event_id FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)
        UNION SELECT event_id FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)
        UNION SELECT event_id FROM got GROUP BY event_id HAVING count(*) > 1""").fetchnumpy()
    con.unregister("expected_rows")
    return np.sort(bad["event_id"]) if len(bad["event_id"]) else np.zeros(0, np.int64)


def rollup_expected(con, ev: dict[str, np.ndarray]) -> pd.DataFrame:
    """(event_type, hour) → event count and integer-cent sum over the
    DISTINCT generated events."""
    con.register("delivered", pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "event_type": pa.array(ev["event_type"].tolist(), type=pa.string()),
        "cents": pa.array(ev["cents"]),
    }))
    out = con.execute("""
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        FROM (SELECT DISTINCT event_id, ts, event_type, cents FROM delivered)
        GROUP BY ALL""").df()
    con.unregister("delivered")
    return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, timestamps at µs, objects as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing two result sets (empty when equal): row
    count, column names, then each column exactly."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    g, w = normalize(got), normalize(want)
    problems = []
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            neq = ~((x == y) | (np.isnan(x) & np.isnan(y)))  # exact: no tolerance
        else:
            neq = ~((a == b) | (a.isna() & b.isna())).to_numpy()
        if neq.any():
            i = int(neq.argmax())
            problems.append(f"col {c}: {int(neq.sum())} mismatches, first {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return problems


def parquet_vs_oracle(con, out_dir: str, oracle_sql: str) -> list[str]:
    """Compare a Parquet directory with an oracle query as multisets of
    rows (columns matched by name, doubles compared exactly)."""
    got = f"read_parquet('{out_dir}/*.parquet')"
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()]
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {oracle_sql}").fetchall()}
    if sorted(cols) != sorted(types):
        return [f"columns {sorted(cols)} != {sorted(types)}"]
    proj = ", ".join(
        f"CAST({c} AS TIMESTAMP) AS {c}" if types[c].startswith("TIMESTAMP") else c
        for c in sorted(cols)
    )
    n_got, n_miss, n_extra = con.execute(f"""
        WITH g AS (SELECT {proj} FROM {got}), w AS (SELECT {proj} FROM ({oracle_sql}))
        SELECT (SELECT count(*) FROM g),
               (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g)),
               (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w))""").fetchone()
    if n_miss or n_extra:
        return [f"{n_miss} oracle rows missing, {n_extra} extra rows (of {n_got})"]
    return []
