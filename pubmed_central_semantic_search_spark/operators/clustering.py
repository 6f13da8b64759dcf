"""Clustering + IVF similarity search (SURVEY §2.9 X7 / X2-X3 scale path).

Anchored to the reference's topic plot of its demo corpus
(``/root/reference/README.md:14-17`` — `sample_paper_topics.png`) and its
HNSW index (``qdrant.py:71-89``), whose Spark-side analogs are:

- **Lloyd k-means** over document vectors (X7): the MLlib execution shape
  re-expressed in plain DataFrame ops — centroids are TINY (k × dim), so
  each iteration collects them to the driver and re-broadcasts them by
  value. Assignment (``nearest_centroid``) is a pure projection — NO
  shuffle, NO join — whose kernel follows the centroid width through
  ``plans.planner.resolve_kernel``: below the 256 crossover a ``zip_with``
  loop over ONE packed ``array<array<double>>`` literal (O(1)-size
  codegen at any k × dim, bit-exact against the DuckDB oracle); at or
  above it the Arrow-batched BLAS kernel in ``operators/vectorized.py``
  (HOF folds run interpreted, so wide dots are their slow case). The
  only shuffle per iteration is the k·dim-row centroid re-aggregation.
  Deterministic end to end: seeds are the k lowest-id vectors, ties
  break to the lowest cluster id — so the whole algorithm (any fixed
  iteration count) has a DuckDB oracle via unrolled CTEs.
- **IVF-flat top-k** (the "inverted file" ANN tier): assign every vector
  to its nearest centroid once at build time (that's the inverted list),
  then at query time probe only the ``nprobe`` nearest centroids' lists.
  At 100 TB the lists are parquet partitions (`partitionBy(cluster_id)`),
  so probing = partition pruning; the scan touches nprobe/k of the data.

Both are deliberately NOT MLlib calls: MLlib KMeans' init is RNG-seeded
(not oracle-replicable) and returns a model object, not a plan. These
return DataFrames and keep every step visible to Catalyst.

Centroids travel as ``list[(cluster_id, vector)]`` — ids are explicit so
clusters that lose every member simply drop out (identical semantics in
the SQL twin, where a vanished cluster has no mean row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    as_double,
    cosine_similarity,
    dot,
    length_guard,
    matrix_lit,
)
from .topk import grouped_top_k
from .vectorized import nearest_centroid_udf

Centroids = list[tuple[int, list[float]]]


def _unit(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5
    return [x / n for x in vec] if n > 0 else vec


def _ranked_centroids(vec_col: Column | str, centroids: Centroids) -> Column:
    """array<struct<nsim,c>> sorted best-first (ties → lowest cluster id).

    Ranking trick: argsort by cosine(v, c) over FIXED centroids equals
    argsort by dot(v, c/|c|) — |v| is a positive per-row constant and
    |c| is folded into the literal driver-side. Saves two norm folds per
    centroid per row.

    PACKED literals: the centroid matrix rides as ONE
    ``array<array<double>>`` literal and the k dot products run as a
    ``zip_with`` loop — the expression tree is O(1) in k × dim. The
    earlier unrolled form (k separate dot expressions, each against its
    own k·dim-leaf literal array) blew past codegen limits at dim=768
    (interpreted fallback, 80× slower assignment); this form computes the
    identical fold in the identical order, bit-for-bit, at loop speed.
    The matrix is a single folded leaf (``matrix_lit``) — a k·dim-leaf
    CreateArray tree cost seconds of driver-side plan work PER ACTION at
    dim=768 before any row moved."""
    cvecs = matrix_lit([_unit(list(vec)) for _, vec in centroids])
    cids = F.lit([int(cid) for cid, _ in centroids])
    return F.array_sort(
        F.zip_with(
            cvecs,
            cids,
            lambda c, i: F.struct((-dot(vec_col, c)).alias("nsim"), i.alias("c")),
        )
    )


def nearest_centroid(vec_col: Column | str, centroids: Centroids) -> Column:
    """Argmax-cosine cluster id as a pure projection — the one assignment
    every caller (Lloyd, IVF, SemDeDup, IVF-PQ, streaming append) uses.

    The kernel follows the centroid width the driver already holds
    (``plans.planner.resolve_kernel``): below the crossover the
    packed-literal fold above; at or above it the Arrow-batched BLAS
    kernel ``vectorized.nearest_centroid_udf`` (same ties → lowest id),
    whose input is length-guarded so an off-width vector raises by name."""
    from ..plans.planner import resolve_kernel

    dim = len(centroids[0][1]) if centroids else 0
    if resolve_kernel(dim) == "blas":
        guarded = length_guard(vec_col, dim, "nearest_centroid")
        return nearest_centroid_udf(centroids)(guarded)
    return F.element_at(_ranked_centroids(vec_col, centroids), 1).getField("c")


def top_centroids(
    vec_col: Column | str, centroids: Centroids, nprobe: int
) -> Column:
    """array<int> of the ``nprobe`` nearest centroid ids, best first."""
    return F.slice(_ranked_centroids(vec_col, centroids), 1, nprobe).getField("c")


def seed_centroids(
    vectors: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> Centroids:
    """Deterministic seeds: the k lowest-id vectors, cluster_id = own id
    (collected — k × dim doubles, trivially driver-sized). Oracle twin:
    ``WHERE {id} < k`` on dense ids / ``ORDER BY id LIMIT k`` generally."""
    rows = (
        vectors.select(F.col(id_col).alias("_i"), as_double(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(k)
        .collect()
    )
    return [(int(r["_i"]), list(r["_v"])) for r in rows]


def recompute_centroids(
    assigned: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    max_clusters: int = 4096,
) -> Centroids:
    """Per-cluster element-wise mean, collected to the driver (k × dim
    rows — never data-sized). Clusters that lost all members disappear.

    Shape: posexplode → groupBy (cluster, pos) — the mean-pool flat shape.
    The explode is narrow and the aggregate partial-combines map-side, so
    the shuffle carries k·dim partials per partition. The earlier wide
    form (dim separate avg aggregates in one HashAggregate) tripped
    Spark's codegen field limit at dim=768 and fell back to interpreted
    per-row evaluation of dim element_at calls — 20× slower; this form
    stays inside whole-stage codegen at any dimensionality."""
    from ..session import collect_bounded

    # ≤ k × dim cells by the groupBy key; ``max_clusters`` fences a caller
    # that hands per-row "cluster" ids (a data-sized collect otherwise)
    rows = collect_bounded(
        assigned.select(
            "cluster_id", F.posexplode(as_double(vec_col)).alias("_pos", "_val")
        )
        .groupBy("cluster_id", "_pos")
        .agg(F.avg("_val").alias("_m")),
        max_clusters * dim,
        "k-means centroid cells",
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(int(r["cluster_id"]), {})[int(r["_pos"])] = r["_m"]
    # Loud on a dim mismatch (the pq_encode ragged-codebook rule): silently
    # truncating 768-component means to a default dim=64 would feed the
    # next assignment centroids shorter than the vectors — zip_with then
    # null-pads, every similarity folds to NULL, and EVERY vector lands in
    # the lowest cluster id with no error.
    for cid, comps in by_cluster.items():
        if len(comps) != dim:
            raise ValueError(
                f"recompute_centroids: dim={dim} but cluster {cid}'s vectors "
                f"have {len(comps)} components — pass the vectors' true "
                "dimensionality"
            )
    return sorted(
        (cid, [comps[i] for i in range(dim)]) for cid, comps in by_cluster.items()
    )


def lloyd_kmeans(
    vectors: DataFrame,
    k: int,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> tuple[DataFrame, Centroids]:
    """X7 — ``n_iter`` deterministic Lloyd iterations (cosine assignment).

    Returns (assignment DataFrame ``(id, cluster_id)`` under the FINAL
    centroids, final centroids). Per-iteration cost at scale: one full
    scan (projection-only assignment) + one k-row shuffle; the driver
    round-trips k×dim doubles — never data-sized. Callers working over
    cold storage should ``persist()`` the vectors first (n_iter+1 scans).
    """
    centroids = seed_centroids(vectors, k, id_col, vec_col)
    if centroids and len(centroids[0][1]) != dim:
        raise ValueError(
            f"lloyd_kmeans: dim={dim} but the vectors are "
            f"{len(centroids[0][1])}-dimensional — pass dim explicitly"
        )
    for _ in range(n_iter):
        assigned = vectors.withColumn(
            "cluster_id", nearest_centroid(vec_col, centroids)
        )
        # the caller's k IS the bound (review find: the guard's default
        # would otherwise refuse a legitimate k > 4096 coarse quantizer)
        centroids = recompute_centroids(
            assigned, dim, vec_col, max_clusters=max(k, 1)
        )
    final = vectors.select(
        F.col(id_col),
        nearest_centroid(vec_col, centroids).alias("cluster_id"),
    )
    return final, centroids


def ivf_assign(
    vectors: DataFrame, centroids: Centroids, vec_col: str = "embedding"
) -> DataFrame:
    """IVF build: tag every vector with its inverted-list id. At scale,
    follow with ``.write.partitionBy("cluster_id").parquet(...)`` so
    query-time probing becomes partition pruning.

    The id comes out of a one-element explode, so a filter or join on
    ``cluster_id`` stays above the assignment: Catalyst pushes such a
    filter below a plain projection, and at widths ≥ 256 the BLAS kernel
    then runs twice (once for the filter, once for the column). A NULL
    vector keeps its row, with a NULL id."""
    return vectors.withColumn(
        "cluster_id", F.explode(F.array(nearest_centroid(vec_col, centroids)))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: Centroids,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: per query, exact cosine over only the
    ``nprobe`` nearest inverted lists.

    Plan shape: queries (tiny) explode to (query, probed cluster) →
    broadcast equi-join against cluster-tagged vectors (with partitioned
    storage this is partition pruning, never a shuffle of the vector side)
    → cosine → per-query top-k window.
    """
    lists = ivf_assign(vectors, centroids, vec_col)
    probes = queries.select(
        "query_id",
        "qvec",
        F.explode(top_centroids("qvec", centroids, nprobe)).alias("cluster_id"),
    )
    scored = lists.join(F.broadcast(probes), "cluster_id").select(
        "query_id",
        F.col(id_col),
        cosine_similarity(vec_col, F.col("qvec")).alias("score"),
    )
    return grouped_top_k(scored, ["query_id"], "score", k, tiebreak=[id_col])
