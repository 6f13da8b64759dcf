"""Plan-construction helpers (SURVEY §4).

The reference's only "planner" decisions are Qdrant-side (HNSW on/off,
filtered search). Ours are Python-level plan choices — deliberately NOT
custom Catalyst rules (SURVEY §4: nothing in the surface needs one; a
library-level rewrite is idiomatic and debuggable):

- ``resolve_kernel``: the one dense-kernel rule (Catalyst fold vs.
  Arrow/BLAS matmul) by vector width. The search tier itself is the
  caller's choice, made by calling it directly: exact
  ``ann.brute_force_topk`` (the correctness baseline), hyperplane-LSH
  ``ann.lsh_topk`` or IVF-flat ``clustering.ivf_topk`` (the scale tiers,
  the analog of the reference's HNSW, SURVEY §4 row 1), or the PQ/IVF-PQ
  compressed tiers (operators/pq.py).
- ``explain_str`` / ``assert_plan``: plan introspection used by the
  plan-regression tests — the ".explain and iterate until it's the plan
  you'd want" loop, automated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

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
