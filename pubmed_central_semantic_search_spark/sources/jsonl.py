"""JSONL corpus source (SURVEY §2.1 S1/S2/S3/S4).

Reference: ``_get_examples`` yields one JSON object per line from
``train.txt``/``val.txt``/``test.txt`` and the splits are concatenated
(``/root/reference/dataset/armac_scientific_papers.py:37-50``); the corpus
is saved sharded-columnar (``:58``, ``max_shard_size="100MB"``).

Spark: line-delimited JSON is the native ``spark.read.json`` format —
schema applied explicitly (never inferred twice over 100 TB), splits
unioned by name, written as sharded parquet with bounded file sizes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jsonl_splits(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1+S2 — read each split and union them by name. An explicit schema
    skips the inference pass (one full data scan saved per split)."""
    if not paths:
        # reduce() over an empty list dies with an opaque TypeError; the
        # real mistake is almost always a glob that matched nothing
        raise ValueError("read_jsonl_splits: empty paths list")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    dfs = [reader.json(p) for p in paths]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def write_sharded_parquet(
    df: DataFrame, path: str, max_records_per_file: int = 100_000
) -> None:
    """S4 — sharded columnar sink (overwrites ``path``).
    ``maxRecordsPerFile`` bounds shard size (the analog of the
    reference's ``max_shard_size="100MB"``) without a repartition
    shuffle."""
    df.write.option("maxRecordsPerFile", max_records_per_file).mode(
        "overwrite"
    ).parquet(path)
