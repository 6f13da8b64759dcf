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
- ``fits_driver``: the one driver-tier fence — a table of vectors the
  driver may hold (and score) itself, decided from its commit-log
  record with no job.
- ``explain_str`` / ``assert_plan``: plan introspection used by the
  plan-regression tests — the ".explain and iterate until it's the plan
  you'd want" loop, automated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def fits_driver(spark: SparkSession, record: dict | None, dim: int) -> bool:
    """THE driver-tier fence: may the driver hold this table's vectors
    itself? Its size — the log record's per-file row counts × ``dim``
    float64s — is read with no job and compared with the session's
    ``spark.sql.autoBroadcastJoinThreshold``: a table Spark would
    broadcast to every executor anyway is one the driver can hold. A
    table without a log (no record: no row counts) and a disabled
    threshold (-1) are over the fence.

    Measured at the default 64 MB (4-core host, 16-bucket dim-768 doc
    table, a 1-text top-5, a two-row commit before each query so every
    query pays the driver tier's rebuild): tier 0.39 / 0.44 / 0.66 /
    1.08 s against ``score_documents`` 1.89 / 1.54 / 1.70 / 1.65 s at
    1k / 3k / 6k / 10k docs (10k is 59 MB, just under the fence); warm,
    0.05-0.09 s against 1.5-1.9 s. The rebuild's Python heap peaks at
    about 3× the matrix (178 MB at 10k)."""
    if record is None:
        return False
    size = sum(f["rows"] for f in record["files"]) * dim * 8
    return size <= spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


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
