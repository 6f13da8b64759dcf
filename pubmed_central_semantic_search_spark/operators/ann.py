"""Similarity search over embedding columns (SURVEY §2.9 X2/X3; north
star "similarity search").

Tiers (the reference's HNSW has no Spark twin — SURVEY §4 records the
plan):

1. **Exact brute-force** — cosine expression + TakeOrderedAndProject
   (``operators/topk.py``/``search.py``). Correctness baseline; scans
   everything but never shuffles the big side. Fine when queries are few.
2. **Random-hyperplane LSH (bucketed)** — the scale path: sign-bit
   signature against D fixed hyperplanes → equi-join on bucket → exact
   cosine only within buckets. Deterministic (hyperplanes are literals
   derived from a seed), so oracle-checkable. Recall is tunable by
   #planes and multi-probe (xor 1-bit neighbor buckets).
3. ``BucketedRandomProjectionLSH`` from MLlib is available for Euclidean;
   we keep our own hyperplane variant because it's cosine-native,
   plan-transparent, and has a DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot, matrix_lit
from .topk import grouped_top_k


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes — pure function of
    (n_planes, dim, seed): sin-mixed values, no RNG state. Shared verbatim
    by oracle SQL literals."""
    return [
        [round(math.sin(seed + 0.61 * p + 0.37 * i + 0.13 * p * i), 6) for i in range(dim)]
        for p in range(n_planes)
    ]


def bucket_signature(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p = 1 iff vec·plane_p > 0. Returns bigint.

    The plane matrix rides as ONE folded plan leaf (``matrix_lit``) and
    the bit tests run as a ``zip_with`` loop — the unrolled per-plane form
    carried n_planes × dim literal leaves of driver-side plan work per
    action. Same value: Σ over planes of (mask if dot>0 else 0).

    Row-level geometry guard (review find, the pq_encode rule): a vector
    whose length differs from the planes' makes ``zip_with`` null-pad,
    every dot folds to NULL, every bit falls through ``when`` to 0, and
    ALL rows silently land in bucket 0 — the LSH tier degrades to one
    full-cross-join bucket with correct-looking results (a 768-dim corpus
    through the default dim=64 planes did exactly this). Wrong-length
    vectors raise at evaluation; null vectors stay null."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    dim = len(planes[0])
    masks = F.lit([1 << p for p in range(len(planes))])
    bits = F.zip_with(
        matrix_lit(planes),
        masks,
        lambda plane, mask: F.when(
            dot(vec_col, plane) > 0, mask.cast("bigint")
        ).otherwise(F.lit(0).cast("bigint")),
    )
    sig = F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc + b)
    return (
        F.when(v.isNull(), F.lit(None).cast("bigint"))
        .when(F.size(v) == dim, sig)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("bucket_signature: vector length "),
                    F.size(v).cast("string"),
                    F.lit(f" != hyperplane dim {dim} — pass dim= matching "
                          "the embedding width"),
                )
            ).cast("bigint")
        )
    )


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    out_col: str = "bucket",
) -> DataFrame:
    return df.withColumn(out_col, bucket_signature(vec_col, hyperplanes(n_planes, dim, seed)))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "hof",
) -> DataFrame:
    """THE exact per-query top-k cosine — ``score_documents`` and the
    x768 bench pack both route here. ``queries``: (query_id, qvec), the
    tiny side. Returns (query_id, id_col, score).

    ``kernel`` picks the scoring engine: ``hof`` (default) is the
    bit-exact Catalyst sequential fold over a broadcast crossJoin — every
    oracle row stays here; ``blas`` scores all queries in ONE
    Arrow-batched matmul pass (``vectorized.multi_query_scores_udf`` — at
    dim ≳ 256 the interpreted fold loses by ~an order of magnitude);
    ``auto`` resolves by query dimensionality at the planner's measured
    crossover (``plans.planner.resolve_kernel``). Kernels agree on ROW
    SETS — NULL/NaN/zero vectors and NULL query vectors follow the fold's
    rules — and on rounded scores; raw scores differ in last-ulp
    accumulation noise, so callers that hash exact floats must not opt
    in."""
    return _exact_topk(vectors, queries, k, id_col, vec_col, kernel).drop("qvec")


def _exact_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    kernel: str,
) -> DataFrame:
    """``brute_force_topk`` that keeps each query's ``qvec``:
    (query_id, qvec, id_col, score). ``score_documents`` needs the vector
    downstream; re-joining the caller's frame would evaluate its
    (possibly encoder-bearing) plan a second time."""
    if kernel not in ("hof", "blas", "auto"):
        raise ValueError(f"unknown kernel: {kernel}")
    if kernel == "auto":
        from ..plans.planner import resolve_kernel

        # dim from ONE non-null query row: a NULL qvec has no length
        first = queries.select("qvec").where(F.col("qvec").isNotNull()).first()
        kernel = resolve_kernel(len(first["qvec"]) if first is not None else 0)
    if kernel == "hof":
        scored = _fold_scores(vectors, queries, id_col, vec_col)
    else:
        scored = _blas_scores(vectors, queries, id_col, vec_col)
    return grouped_top_k(scored, ["query_id"], "score", k, tiebreak=[id_col])


def _fold_scores(
    vectors: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The HOF arm: every (vector, query) pair scored by the Catalyst
    fold. A NULL vector or NULL query scores NULL, a NaN/zero one 0.0."""
    return vectors.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "qvec",
        F.col(id_col),
        cosine_similarity(vec_col, F.col("qvec")).alias("score"),
    )


def _blas_scores(
    vectors: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The BLAS arm, with the fold's row set: one matmul pass scores the
    live queries; NULL-qvec queries (which cannot enter the matrix) take
    the fold arm."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..session import collect_bounded, local_df

    # looked up at call time, so a wrapper installed on the module is seen
    from .vectorized import multi_query_scores_udf

    # ONE evaluation of the (possibly encoder-bearing) query plan: the
    # collected rows are both the kernel's matrix and, as local frames,
    # the query side downstream. k-row side by contract — fenced.
    qrows = collect_bounded(
        queries.select("query_id", "qvec"), 65_536, "blas query side"
    )
    spark = vectors.sparkSession
    # local frames keep the CALLER's query_id type under every kernel
    q_fields = [queries.schema["query_id"], queries.schema["qvec"]]
    live = [r for r in qrows if r["qvec"] is not None]
    null_q = [r for r in qrows if r["qvec"] is None]
    if not live:
        # the matmul needs a (nq, dim) matrix; zero live queries
        # (including an empty query side) is the fold arm's case alone
        return _fold_scores(
            vectors, local_df(spark, qrows, StructType(q_fields)), id_col, vec_col
        )
    qframe = local_df(
        spark,
        [(i, r["query_id"], r["qvec"]) for i, r in enumerate(live)],
        StructType([StructField("_qi", IntegerType()), *q_fields]),
    )
    # a NULL embedding's kernel result is a null array; coalescing it to
    # nulls keeps the row (posexplode of a null array yields none, while
    # the fold keeps the vector as a null-score row). posexplode takes the
    # kernel expression itself: exploding a projected kernel column let
    # Catalyst infer a size(...) > 0 filter below it that ran the kernel
    # a second time.
    scores = F.coalesce(
        multi_query_scores_udf([r["qvec"] for r in live])(F.col(vec_col)),
        F.array_repeat(F.lit(None).cast("double"), len(live)),
    )
    scored = (
        vectors.select(F.col(id_col), F.posexplode(scores).alias("_qi", "score"))
        .join(F.broadcast(qframe), "_qi")
        .select("query_id", "qvec", id_col, "score")
    )
    if null_q:
        scored = scored.unionByName(
            _fold_scores(
                vectors, local_df(spark, null_q, StructType(q_fields)), id_col, vec_col
            )
        )
    return scored


def probe_buckets(bucket: Column, n_planes: int, multi_probe: int = 0) -> Column:
    """The ordered array of buckets a query probes: its own bucket, then —
    with ``multi_probe >= 1`` — every 1-bit-xor neighbor (the buckets whose
    vectors sit just across ONE hyperplane; near-boundary neighbors land
    there, which is exactly what single-bucket probing loses). All bucket
    values are distinct by construction (xor of distinct one-bit masks)."""
    if multi_probe not in (0, 1):
        raise ValueError("multi_probe: 0 (exact bucket) or 1 (1-bit neighbors)")
    probes = [bucket]
    if multi_probe:
        probes += [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    return F.array(*probes)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket matches one of
    the query's probe buckets. ``multi_probe=1`` probes the query's bucket
    plus all ``n_planes`` 1-bit-xor neighbors (n_planes+1 of 2^n_planes
    buckets) — the standard recall fix for sign-bit LSH, where a query near
    one hyperplane has ~half its true neighbors on the other side of it.

    At scale the vectors side is written bucket-partitioned
    (partitionBy(bucket) parquet) and the probe set prunes partitions:
    single-probe touches 1/2^planes of the data, multi-probe
    (planes+1)/2^planes — still a vanishing fraction, for a recall jump
    (contract-tested ≥0.9 on the fixture corpus vs brute force). The probe
    explode happens on the QUERY side (tiny, broadcast); the vectors side
    is never replicated."""
    planes = hyperplanes(n_planes, dim, seed)
    v = vectors.withColumn("bucket", bucket_signature(vec_col, planes))
    q = queries.withColumn(
        "bucket",
        F.explode(
            probe_buckets(bucket_signature("qvec", planes), n_planes, multi_probe)
        ),
    )
    scored = v.join(F.broadcast(q), "bucket").select(
        "query_id",
        F.col(id_col),
        cosine_similarity(vec_col, F.col("qvec")).alias("score"),
    )
    return grouped_top_k(scored, ["query_id"], "score", k, tiebreak=[id_col])
