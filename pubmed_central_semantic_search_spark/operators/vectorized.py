"""Arrow-batched dense-vector kernels — the high-dimensional scale path.

The vector expressions in ``functions/vector.py`` stay JVM-side, but
Spark's higher-order functions (``aggregate``/``zip_with``/``transform``)
are CodegenFallback: every element is an interpreted expression eval with
per-element allocation. At the reference's real dim=768
(``/root/reference/src/backend/database/qdrant.py:74``) a brute-force scan
spends ~6k interpreted evals per row per centroid/query; for dense linear
algebra at dim ≳ 256 over large corpora that arithmetic dominates row
overhead, and an Arrow-batched numpy/BLAS matmul computes the same scores
one batch (10k rows) at a time in optimized SIMD loops — the standard
10-100× Pandas-UDF-over-row-Python argument, applied JVM-HOF-vs-BLAS.

The cost is one Arrow transfer of the vector column per stage, so the
kernels pay off only where the math is heavy: high dim × (many queries or
many centroids). The HOF path keeps two properties these kernels trade
away: (a) bit-exact sequential-fold accumulation (the DuckDB-oracle
contract — BLAS accumulates blockwise, agreeing to ~1e-12 relative), and
(b) zero Python dependency in the plan. Driver-correctness rows therefore
stay on the HOF path; these kernels serve bench/scale workloads and ANN
interiors where scores are rounded anyway.

Two kernels live here, and no operator: ``multi_query_scores_udf``
scores every row against a fixed query set and is the scoring arm of
``ann.brute_force_topk(kernel="blas")``, which owns the kernel choice,
the query-side collect, null handling and the per-query cut;
``nearest_centroid_udf`` is the BLAS arm of ``clustering.nearest_centroid``,
which picks it from the centroid width (``plans.planner.resolve_kernel``)
and length-guards its input. (The PCA projection's BLAS arm,
``projection.pca_project_udf``, follows the same rules.) Both kernels
take one masked path: NULL rows out as NULL, the rest in one matmul.

Determinism: numpy with fixed inputs is deterministic; argmax ties break
to the lowest index, and centroids are passed sorted by cluster id, so
tie-break order matches the HOF path's (score, lowest-id) struct sort
UNDER ITS OWN ARITHMETIC (a pair tied in BLAS arithmetic but not in
sequential-fold arithmetic may differ — measure-zero for real data).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf

Centroids = list[tuple[int, list[float]]]


def nearest_centroid_udf(centroids: Centroids):
    """Arrow-batched argmax-cosine assignment: array<num> → int cluster id.

    Same contract as ``clustering.nearest_centroid`` (ties → lowest
    cluster id): centroid norms fold into the matrix once, argmax returns
    the first (lowest-index) maximum, and rows are sorted by id.
    Self-contained closure — plain-list captures only (see
    ``multi_query_scores_udf``)."""
    cents = sorted((int(cid), [float(x) for x in vec]) for cid, vec in centroids)
    id_list = [cid for cid, _ in cents]
    c_list = [vec for _, vec in cents]

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        ids = _np.asarray(id_list, dtype=_np.int64)
        c = _np.asarray(c_list, dtype=_np.float64)
        norms = _np.linalg.norm(c, axis=1)
        norms[norms == 0] = 1.0
        cu = (c.T / norms).T  # unit rows: cosine argmax == dot argmax
        # null rows assign null (HOF semantics), not a batch crash
        mask = vecs.notna().to_numpy()
        out = _pd.Series([None] * len(vecs), dtype=object)
        if mask.any():
            m = _np.array(vecs[mask].tolist(), dtype=_np.float64)
            sc = m @ cu.T
            # degenerate rows (NaN components) score 0 to every centroid
            # so argmax falls to the lowest id — the HOF twin's tie rule;
            # raw NaN makes numpy argmax undefined-ish and diverges
            sc[~_np.isfinite(sc)] = 0.0
            out[mask] = ids[sc.argmax(axis=1)]
        return out

    return _assign


def multi_query_scores_udf(query_vecs: list[list[float]]):
    """Arrow-batched cosine against a FIXED SET of queries in one pass:
    array<num> → array<double> (one score per query, query order
    preserved). One (batch × dim) @ (dim × n_queries) matmul per Arrow
    batch — the scoring kernel of ``ann.brute_force_topk(kernel="blas")``.

    SELF-CONTAINED closure (the package-wide UDF rule, see encoder.py):
    the body references only stdlib/numpy/pandas and plain captured data,
    so cloudpickle ships it by value and executors never need this
    package importable — verified by ``test_np_kernels_are_self_contained``
    running the kernel from a foreign working directory."""
    q_lists = [[float(x) for x in q] for q in query_vecs]

    @pandas_udf("array<double>")
    def _scores(vecs: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        q = _np.asarray(q_lists, dtype=_np.float64)  # (nq, dim)
        qn = _np.linalg.norm(q, axis=1)
        qn[qn == 0] = 1.0
        # null rows yield null arrays (the fold's null-in → null-out)
        # instead of crashing np.array on an inhomogeneous list
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return _pd.Series([None] * len(vecs), dtype=object)
        m = _np.array(vecs[mask].tolist(), dtype=_np.float64)
        norms = _np.linalg.norm(m, axis=1)
        # zero-norm rule = cosine_similarity's: a zero row or query
        # scores 0.0, never NaN (NaN sorts ABOVE every double descending
        # and would hijack top-k) and never DIVIDE_BY_ZERO
        norms[norms == 0] = _np.inf
        s = (m @ q.T) / _np.outer(norms, qn)
        # degenerate (NaN/Inf) inputs score 0.0 — the fold's convention;
        # without it the kernels returned different top-k ROW SETS
        s[~_np.isfinite(s)] = 0.0
        rows = iter(s)
        return _pd.Series([next(rows) if ok else None for ok in mask])

    return _scores
