"""Plan-construction helpers (SURVEY §4).

The reference's only "planner" decisions are Qdrant-side (HNSW on/off,
filtered search). Ours are Python-level plan choices — deliberately NOT
custom Catalyst rules (SURVEY §4: nothing in the surface needs one; a
library-level rewrite is idiomatic and debuggable):

- ``plan_topk_search``: exact brute-force vs. hyperplane-LSH approximate
  vs. IVF-flat (prebuilt coarse centroids → probed inverted lists),
  chosen by an explicit mode or a corpus-size threshold. The exact tier
  is the correctness baseline; LSH and IVF are the opt-in scale tiers
  (the analog of the reference's HNSW, SURVEY §4 row 1). The PQ/IVF-PQ
  compressed tiers (operators/pq.py) are per-query (driver-side LUTs) and
  storage-coupled, so they're invoked directly, not through this router.
- ``explain_str`` / ``assert_plan``: plan introspection used by the
  plan-regression tests — the ".explain and iterate until it's the plan
  you'd want" loop, automated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ann import brute_force_topk, lsh_topk

# kernel='auto' crossover: the measured dim where the Arrow-batched BLAS
# matmul overtakes the interpreted Catalyst HOF fold (measurements in
# operators/vectorized.py). The one routing point for every dense kernel
# choice: the exact top-k (operators/ann.brute_force_topk, one peek of the
# query width), and — from widths the driver already holds, no peek —
# k-means/IVF assignment (clustering.nearest_centroid, centroid width),
# PCA projection (projection.pca_project, model width) and the engine
# facade (api, its embedding dim). The x768_multiq/x768_multiq_np bench
# pair runs the top-k under each kernel at dim 768 and keeps the
# crossover honest.
_KERNEL_CROSSOVER_DIM = 256


def resolve_kernel(dim: int) -> str:
    """THE kernel='auto' rule — one definition (review find: the peek +
    crossover comparison had drifted into three copies): the Arrow/BLAS
    matmul above the measured crossover, the bit-exact Catalyst fold at
    or below it (including dim 0 — an empty/unknown query side must not
    pay an Arrow stage)."""
    return "blas" if dim >= _KERNEL_CROSSOVER_DIM else "hof"


def plan_topk_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    mode: str = "auto",
    approx_threshold_rows: int = 10_000_000,
    centroids=None,
    nprobe: int = 2,
    kernel: str = "hof",
    **lsh_kwargs,
) -> DataFrame:
    """Choose the physical strategy for vector top-k.

    ``auto`` stays exact until the vector side is known to be huge —
    statistics when available, else the caller's hint. (Counting to decide
    would cost a scan; at 100 TB the caller KNOWS it's huge.)
    ``ivf`` requires prebuilt coarse ``centroids`` (operators/clustering)
    — with cluster-partitioned storage the probe is partition pruning.

    ``kernel`` picks the exact tier's scoring engine (``hof``/``blas``/
    ``auto``) — the tier is one ``ann.brute_force_topk`` call, which owns
    the kernel contract and its routing. The DEFAULT stays ``hof``:
    kernels differ in last-ulp float noise, so the bit-exact engine must
    never change underneath a caller who didn't ask. The approximate
    tiers have no kernel choice."""
    if kernel != "hof" and mode != "exact":
        # validated up front so approx/ivf can't silently ignore an
        # explicitly requested scoring engine
        raise ValueError(
            f"kernel={kernel!r} requires mode='exact', got mode={mode!r}"
        )
    if mode == "exact":
        return brute_force_topk(vectors, queries, k, kernel=kernel)
    if mode == "approx":
        return lsh_topk(vectors, queries, k, **lsh_kwargs)
    if mode == "ivf":
        if centroids is None:
            raise ValueError("mode='ivf' needs prebuilt coarse centroids")
        from ..operators.clustering import ivf_topk

        return ivf_topk(vectors, queries, centroids, k, nprobe=nprobe)
    if mode == "auto":
        try:
            est_rows = (
                vectors._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .rowCount()
                .getOrElse(None)
            )
        except Exception:
            est_rows = None
        if est_rows is not None and int(str(est_rows)) > approx_threshold_rows:
            return lsh_topk(vectors, queries, k, **lsh_kwargs)
        return brute_force_topk(vectors, queries, k)
    raise ValueError(f"unknown mode: {mode}")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def assert_plan(
    df: DataFrame,
    contains: list[str] = (),
    not_contains: list[str] = (),
) -> str:
    """Assert physical-plan properties; returns the plan text for
    diagnostics."""
    plan = explain_str(df)
    for frag in contains:
        assert frag in plan, f"expected plan to contain {frag!r}:\n{plan}"
    for frag in not_contains:
        assert frag not in plan, f"expected plan WITHOUT {frag!r}:\n{plan}"
    return plan
