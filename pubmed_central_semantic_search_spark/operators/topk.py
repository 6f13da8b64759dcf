"""Top-k operators (SURVEY §2.6 Q1/Q2/Q7, §2.7 A4).

The reference delegates top-k to Qdrant's ``limit=`` (HNSW-accelerated,
``/root/reference/src/backend/database/qdrant.py:202-205,221``). In Spark:

- Global top-k: ``orderBy(desc).limit(k)`` — Catalyst compiles this to
  ``TakeOrderedAndProject``: each partition keeps a k-sized heap, the driver
  merges k·partitions rows. No global sort, no shuffle of the full data —
  this is the plan that survives 100 TB.
- Per-group top-k: ``row_number()`` over a ``(group) ORDER BY score DESC``
  window — one hash-partition shuffle by group key; replaces the reference's
  N+1 per-document queries (``qdrant.py:213-229``) with a single pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(
    df: DataFrame,
    score: Column | str,
    k: int,
    tiebreak: Sequence[Column | str] = (),
) -> DataFrame:
    """Global top-k by score desc (Q1/A4). ``tiebreak`` columns make the
    result deterministic when scores tie."""
    score = F.col(score) if isinstance(score, str) else score
    order = [score.desc()] + [
        (F.col(c) if isinstance(c, str) else c).asc() for c in tiebreak
    ]
    return df.orderBy(*order).limit(k)


def grouped_top_k(
    df: DataFrame,
    group: Sequence[str],
    score: Column | str,
    k: int,
    tiebreak: Sequence[str] = (),
    rank_col: str = "rank",
    keep_rank: bool = False,
) -> DataFrame:
    """Per-group top-k via ranking window (Q2).

    One shuffle on ``group``; map-side nothing to pre-aggregate, but AQE
    skew-join/partition handling keeps hot groups from stalling a task at
    scale. ``row_number`` (not ``rank``) so exactly k rows per group.
    """
    if rank_col in df.columns:
        # withColumn would silently REPLACE the caller's data column and
        # keep_rank=False would then drop it entirely (the _bucket rule,
        # applied to the ranking working column) — fail loudly instead
        raise ValueError(
            f"grouped_top_k: input already has a {rank_col!r} column — "
            "pass rank_col= a fresh name"
        )
    score = F.col(score) if isinstance(score, str) else score
    order = [score.desc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*group).orderBy(*order)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)

