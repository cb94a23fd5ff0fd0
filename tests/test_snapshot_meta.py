"""Snapshot commit-metadata sidecar (r14 optimization).

``write_table_version(meta=...)`` records small commit facts (the
streaming batch id) in ``v=<n>/_meta.json`` so replay guards resolve
them with one driver-side file read instead of a Spark job per table
per micro-batch.  The sidecar is the only record of the batch stamp, so
a maintained snapshot published without one cannot be guarded.
"""

from __future__ import annotations

import pytest

from hdfs_stream_processing_spark import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="test-snapshot-meta", cpus=4)


def test_meta_roundtrip_and_absence(spark, tmp_path):
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_version_meta,
        write_table_version,
    )

    tdir = str(tmp_path / "t")
    d = spark.createDataFrame([(1, 10)], "k int, v int")
    assert write_table_version(spark, d, tdir, meta={"batch": 0}) == 1
    assert write_table_version(spark, d, tdir) == 2  # no sidecar
    assert write_table_version(spark, d, tdir, meta={"batch": 7, "x": "y"}) == 3

    assert table_version_meta(spark, tdir, 1) == {"batch": 0}
    assert table_version_meta(spark, tdir, 2) is None
    assert table_version_meta(spark, tdir) == {"batch": 7, "x": "y"}  # latest
    assert table_version_meta(spark, str(tmp_path / "nope")) is None
    # the sidecar never leaks into the data
    assert read_table_version(spark, tdir, 3).columns == ["k", "v"]


def test_maintained_snapshot_without_sidecar_raises(spark, tmp_path):
    """The replay guard of a maintained stream table reads the batch
    stamp from the published snapshot's sidecar only: a snapshot
    published without one makes the next apply raise, and nothing is
    folded in or committed."""
    from hdfs_stream_processing_spark.sources.io import (
        read_table_version,
        table_latest_version,
        write_table_version,
    )
    from hdfs_stream_processing_spark.streaming.pipeline import rollup_apply_batch

    tdir = str(tmp_path / "roll")
    seed = spark.createDataFrame([("a", 2)], "k string, n long")
    write_table_version(spark, seed, tdir)  # no meta sidecar

    batch = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    for bid in (0, 1):
        with pytest.raises(RuntimeError, match="_meta.json"):
            rollup_apply_batch(batch, tdir, ["k"], ["n"], batch_id=bid)
    assert table_latest_version(spark, tdir) == 1
    got = {r["k"]: r["n"] for r in read_table_version(spark, tdir).collect()}
    assert got == {"a": 2}
