"""Mean-pooling of vectors (SURVEY §2.5 E3 / §2.7 A1).

Reference: document vector = numpy mean over the article's chunk embeddings
(``/root/reference/src/backend/database/qdrant.py:121``).

Spark design — one aggregation shape at every width:

- ``mean_pool_flat``: posexplode components → hash-aggregate on
  ``(group, pos)``. Partial (map-side) aggregation means the shuffle carries
  one partial sum per (group, pos, partition), NOT dim× the row count —
  this is the 100 TB-safe shape and also the oracle-checkable one.
- ``mean_pool``: same aggregation, then re-assembles ``array<double>``
  ordered by component index. Used by the document pipeline. Its ``dim``
  is a length guard only, so the plan does not grow with the width.

Both are pure DataFrame ops — no UDF, no driver collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import as_double


def mean_pool_flat(
    df: DataFrame, group: Sequence[str], vec_col: str = "embedding"
) -> DataFrame:
    """Per-group element-wise mean, one row per (group, component pos)."""
    exploded = df.select(
        *group, F.posexplode(as_double(vec_col)).alias("pos", "val")
    )
    return exploded.groupBy(*group, "pos").agg(F.avg("val").alias("mean_val"))


def mean_pool(
    df: DataFrame,
    group: Sequence[str],
    vec_col: str = "embedding",
    out_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-group mean vector re-assembled as ``array<double>``.

    One plan at every width: posexplode the components, average per
    ``(group, pos)`` with map-side partials, then re-assemble each
    group's cells in component order. ``dim`` only drives a row-level
    length guard; it does not change the aggregation. Why not one
    aggregate of ``dim`` avg columns: its plan grows with the width — at
    dim 768, for 4 groups of 7 rows on a 4-core host, it took 4.3 s to
    build and 2.6 s to run, against 0.14 s + 0.33 s for this one.

    Null in, null out: a group whose vectors are all NULL pools to NULL,
    and a component NULL in every vector of a group stays NULL in place
    (``[null, mean, ...]``).
    """
    vec = as_double(vec_col)
    if dim is not None:
        if dim < 1:
            raise ValueError(f"mean_pool: dim must be >= 1, got {dim}")
        # row-level geometry guard (the k-means/PQ/PCA rule): a vector of
        # another width would silently skew the pooled mean (e.g. an engine
        # reconstructed with a smaller dim over previously-ingested
        # embeddings). Nulls stay null.
        vec = F.when(vec.isNull(), vec).when(F.size(vec) == dim, vec).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("mean_pool: vector length "),
                    F.size(vec).cast("string"),
                    F.lit(f" != dim = {dim}"),
                )
            ).cast("array<double>")
        )
    # posexplode_outer keeps all-null groups alive as a (null, null)
    # component row; the assembly filters that cell back out and maps an
    # empty result to NULL
    exploded = df.select(*group, F.posexplode_outer(vec).alias("pos", "val"))
    flat = exploded.groupBy(*group, "pos").agg(F.avg("val").alias("mean_val"))
    assembled = flat.groupBy(*group).agg(
        F.filter(
            F.sort_array(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["pos"].isNotNull(),
        ).alias("_cells")
    )
    return assembled.select(
        *group,
        F.when(
            F.size("_cells") > 0,
            F.transform(F.col("_cells"), lambda s: s["mean_val"]),
        ).alias(out_col),
    )
