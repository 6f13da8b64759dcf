"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
NeurIPS; "hashed n-gram importance weights").

LLM curation selects raw-pool documents whose hashed n-gram distribution
matches a target domain: fit bag-of-hashed-n-gram unigram models for the
target and the raw pool, weight every raw doc by the log-likelihood
ratio, then resample ∝ exp(weight) WITHOUT replacement via the Gumbel
top-k trick. The reference ingests everything unfiltered
(``/root/reference/src/backend/data_fetching/data_fetcher.py:48-57``);
this module supplies the domain-matched selection tier Spark-first.

Scale shape (the paper's pipeline at 100 TB):

- Features are content-addressed hashed uni+bigram buckets
  (``md5_prefix_long``, the package-wide primitive — identical
  cross-engine/cross-run, so the DuckDB oracle replays the whole chain).
- **Fit** is ONE corpus pass: explode buckets → groupBy(bucket) with
  map-side partial aggregation — only ``n_buckets`` partials per
  partition cross the wire; the model is a driver-sized table (documented
  B-sized collect) shipped back as a packed literal.
- **Score** is a narrow per-row fold (zero shuffle, zero Python): the
  log-ratios are quantized to INTEGER micro-units on the driver, so the
  per-doc sum is integer arithmetic — order-free and bit-identical in
  any engine (float folds would differ by summation order).
- **Select** is one TakeOrderedAndProject on the Gumbel key — never a
  global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .curation import _tokens, md5_prefix_long, md5_prefix_uniform

DSIR_SALT = "#dsir"
GUMBEL_SALT = "#dsirg"


def dsir_buckets(text_col: Column | str, n_buckets: int = 256) -> Column:
    """``array<bigint>`` of hashed uni+bigram feature buckets (the
    paper's hashed n-gram featurization). Narrow; the token array is
    referenced a constant number of times at whole-array level (never
    inside a per-element lambda — trees, not DAGs)."""
    # null text pins to the empty-doc path: without the coalesce a
    # NULL-text doc scored NULL dsir_logw_micro and NULL Gumbel key —
    # silently never selected and poisoning any downstream arithmetic
    # over the appended columns, where the docstring promises empty docs
    # score 0 (review find)
    tk = F.coalesce(_tokens(text_col), F.array())
    n1 = F.greatest(F.size(tk) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(tk, 1, n1),
        F.slice(tk, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bucket = lambda g: md5_prefix_long(g, DSIR_SALT) % n_buckets  # noqa: E731
    return F.concat(F.transform(tk, bucket), F.transform(bi, bucket))


def dsir_fit(
    df: DataFrame,
    target_col: Column,
    text_col: str = "text",
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> list[int]:
    """Fit the importance model: smoothed hashed-n-gram log-likelihood
    ratios ``ln p̂_target[b] − ln p̂_raw[b]``, quantized to integer
    MICRO-units (``round(lr · 1e6)``) so downstream scoring is exact
    integer arithmetic. ``target_col`` is a boolean expression marking
    target-domain rows inside the pool frame (both models fit in the same
    single pass: conditional aggregation). Returns a plain Python list of
    length ``n_buckets`` — the driver-sized model (B ≪ corpus), the same
    contract as the k-means centroids / logreg weights."""
    from ..session import collect_bounded

    # ≤ n_buckets rows by the groupBy key's construction — guarded anyway
    # (the package's k-sized-collect rule)
    counts = collect_bounded(
        df.select(
            target_col.cast("int").alias("_t"),
            F.explode(dsir_buckets(text_col, n_buckets)).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum("_t").alias("c_t"),
        ),
        n_buckets,
        "dsir bucket counts",
    )
    c_all = {int(r["b"]): int(r["c_all"]) for r in counts}
    c_t = {int(r["b"]): int(r["c_t"]) for r in counts}
    n_all = sum(c_all.values())
    n_t = sum(c_t.values())
    denom_t = n_t + alpha * n_buckets
    denom_all = n_all + alpha * n_buckets
    return [
        round(
            (
                math.log((c_t.get(b, 0) + alpha) / denom_t)
                - math.log((c_all.get(b, 0) + alpha) / denom_all)
            )
            * 1_000_000
        )
        for b in range(n_buckets)
    ]


def _ratio_lit(log_ratios_micro: list[int]) -> Column:
    """The model as ONE plan leaf (constant-folded from_json — see
    functions/vector.array_lit for why not F.lit per element)."""
    import json

    return F.from_json(
        F.lit(json.dumps(log_ratios_micro)), "array<bigint>"
    )


def dsir_logweight_micro(
    text_col: Column | str, log_ratios_micro: list[int], n_buckets: int = 256
) -> Column:
    """Per-doc importance log-weight in micro-units: Σ over gram
    occurrences of the bucket's quantized log-ratio. Pure Catalyst fold
    over the bucket array — integer, order-free, zero shuffle; empty docs
    score 0."""
    if len(log_ratios_micro) != n_buckets:
        raise ValueError(
            f"dsir model has {len(log_ratios_micro)} buckets but scoring "
            f"asked for n_buckets={n_buckets} — a mismatch would make "
            "element_at return null past the model's end and silently "
            "null every score (fit and score with the same n_buckets)"
        )
    ratios = _ratio_lit(log_ratios_micro)
    return F.aggregate(
        dsir_buckets(text_col, n_buckets),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.element_at(ratios, (b + 1).cast("int")),
    )


def dsir_gumbel_key(
    id_col: Column | str, logw_micro: Column, precision: int = 6
) -> Column:
    """Gumbel top-k key: ``logw + G`` with ``G = −ln(−ln(u))`` and ``u``
    a content-addressed uniform in (0, 1) — taking the top-k rows by this
    column IS sampling ∝ exp(logw) without replacement (Gumbel-max), the
    numerically robust analog of the A-ES ``wrs_key`` (no exp overflow
    for |logw| beyond float range). Deterministic: u derives from the doc
    id, so re-runs and engines agree; rounded for cross-engine hashing."""
    key = F.col(id_col) if isinstance(id_col, str) else id_col
    u = md5_prefix_uniform(key, GUMBEL_SALT)
    return F.round(
        logw_micro / F.lit(1_000_000.0) - F.log(-F.log(u)), precision
    )


def dsir_select(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: Column | None = None,
    n_buckets: int = 256,
    log_ratios_micro: list[int] | None = None,
) -> DataFrame:
    """End-to-end DSIR selection: fit (unless a model is supplied), score,
    take the Gumbel top-k. The limit rides TakeOrderedAndProject —
    distributed partial top-k, never a global sort (plan-pinned in
    tests/test_dsir.py). Appends ``dsir_logw_micro`` and ``dsir_key``."""
    if log_ratios_micro is None:
        if target_col is None:
            raise ValueError("need target_col to fit, or a prefit model")
        log_ratios_micro = dsir_fit(
            df, target_col, text_col=text_col, n_buckets=n_buckets
        )
    scored = df.withColumn(
        "dsir_logw_micro",
        dsir_logweight_micro(text_col, log_ratios_micro, n_buckets),
    ).withColumn(
        "dsir_key", dsir_gumbel_key(id_col, F.col("dsir_logw_micro"))
    )
    return scored.orderBy(F.desc("dsir_key"), F.asc(id_col)).limit(k)
