"""Streaming keyed-upsert sink (X6) and snapshot CDC diff (S8
follow-through): drain ≡ batch upsert, replay idempotence, diff statuses.
"""

import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.sources.catalog import (
    snapshot_diff,
    snapshot_write,
    upsert_parquet,
)
from pubmed_central_semantic_search_spark.streaming.ingest import (
    start_stream_upsert,
)


def _read(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_stream_upsert_drain_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    rows1 = [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    spark.createDataFrame(rows1, "k long, v string, ver long").write.mode(
        "append"
    ).parquet(src)

    schema = "k long, v string, ver long"
    stream = spark.readStream.schema(schema).parquet(src)
    start_stream_upsert(stream, table, ck, ["k"], version_col="ver").awaitTermination()
    assert _read(spark, table) == sorted(rows1)

    # second drain: overlapping keys, higher versions win
    rows2 = [(2, "B", 2), (4, "d", 1)]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    start_stream_upsert(stream, table, ck, ["k"], version_col="ver").awaitTermination()

    # batch twin: one upsert of all rows
    batch_table = str(tmp_path / "batch_table")
    upsert_parquet(
        spark,
        spark.createDataFrame(rows1, schema),
        batch_table,
        ["k"],
        version_col="ver",
    )
    upsert_parquet(
        spark,
        spark.createDataFrame(rows2, schema),
        batch_table,
        ["k"],
        version_col="ver",
    )
    assert _read(spark, table) == _read(spark, batch_table)
    assert (2, "B", 2) in _read(spark, table)


def test_stream_upsert_replay_is_idempotent(spark, tmp_path):
    """Simulate foreachBatch's at-least-once replay: applying the same
    batch twice must leave the table identical (the keyed merge law)."""
    table = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, "x", 5), (2, "y", 5)], "k long, v string, ver long"
    )
    upsert_parquet(spark, batch, table, ["k"], version_col="ver")
    first = _read(spark, table)
    upsert_parquet(spark, batch, table, ["k"], version_col="ver")  # replay
    assert _read(spark, table) == first


def test_stream_upsert_redrain_is_noop(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ck = str(tmp_path / "ck")
    schema = "k long, v string, ver long"
    spark.createDataFrame([(1, "a", 1)], schema).write.mode("append").parquet(src)
    for _ in range(2):  # second drain sees no new files via the checkpoint
        stream = spark.readStream.schema(schema).parquet(src)
        start_stream_upsert(
            stream, table, ck, ["k"], version_col="ver"
        ).awaitTermination()
    assert _read(spark, table) == [(1, "a", 1)]


def test_snapshot_diff_statuses(spark, tmp_path):
    table = str(tmp_path / "snap")
    schema = "k long, v string"
    v1 = snapshot_write(
        spark, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema), table
    )
    v2 = snapshot_write(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], schema),
        table,
        mode="overwrite",
    )
    diff = {
        r["k"]: r["change"]
        for r in snapshot_diff(spark, table, v1, v2, ["k"]).collect()
    }
    assert diff == {1: "deleted", 2: "changed", 4: "inserted"}  # 3 unchanged → omitted


def test_snapshot_diff_join_carries_fingerprints_not_payload(spark, tmp_path):
    """The full-outer join shuffles only (key, md5) — the payload columns
    must be projected away below the join."""
    table = str(tmp_path / "snap")
    schema = "k long, v string, w string"
    v1 = snapshot_write(spark, spark.createDataFrame([(1, "a", "x")], schema), table)
    v2 = snapshot_write(
        spark, spark.createDataFrame([(1, "a", "y")], schema), table, mode="overwrite"
    )
    df = snapshot_diff(spark, table, v1, v2, ["k"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 1
    assert [r["change"] for r in df.collect()] == ["changed"]


def test_snapshot_diff_schema_mismatch_raises(spark, tmp_path):
    table = str(tmp_path / "snap")
    v1 = snapshot_write(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), table
    )
    v2 = snapshot_write(
        spark,
        spark.createDataFrame([(1, 2.0)], "k long, z double"),
        table,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="schemas differ"):
        snapshot_diff(spark, table, v1, v2, ["k"])


def test_upsert_ignores_stale_staging(spark, tmp_path):
    """A staging dir left by an aborted write (live intact) must be
    discarded, not merged or adopted."""
    table = str(tmp_path / "t")
    schema = "k long, v string, ver long"
    upsert_parquet(
        spark, spark.createDataFrame([(1, "a", 1)], schema), table, ["k"],
        version_col="ver",
    )
    # stale partial staging from a crashed writer
    spark.createDataFrame([(9, "junk", 9)], schema).write.parquet(
        table + "__staging"
    )
    upsert_parquet(
        spark, spark.createDataFrame([(2, "b", 1)], schema), table, ["k"],
        version_col="ver",
    )
    assert _read(spark, table) == [(1, "a", 1), (2, "b", 1)]
