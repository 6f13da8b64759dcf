"""PCA / whitening projection for embedding columns (EXT — LLM-pipeline
dimensionality reduction).

The reference stores raw 768-dim vectors (``/root/reference/src/backend/
database/qdrant.py:74``) and searches them as-is. At 100 TB the standard
pre-processing for the dedup/ANN stack is a linear projection: PCA to cut
storage + ADC cost, whitening to equalize component variances before
cosine blocking (SemDeDup/IVF train better on whitened inputs).

Spark-first decomposition — the ONLY distributed work is one pass of
second-moment accumulation:

1. ``_moment_partials`` (mapInPandas, Arrow-batched): each partition folds
   its rows into ``(n, Σx, ΣxxT)`` — one tiny output row per partition,
   numpy matmul inside, nothing row-at-a-time.
2. A single-partition combine (the 32 partial rows are repartition(1)'d
   and summed in one task) so the driver collects exactly ONE gram matrix
   (dim² doubles), never partition-count × dim².
3. ``np.linalg.eigh`` on the dim×dim covariance driver-side — dim-sized,
   corpus-independent.
4. ``pca_project`` — the one projection; its kernel follows the model
   width through ``plans.planner.resolve_kernel``. Below the 256
   crossover it is pure Catalyst: the components ride as a packed
   ``matrix_lit`` literal and the projection is a zip_with/aggregate dot
   per output component. At or above it, the Arrow-batched BLAS kernel
   ``pca_project_udf``. Narrow and zero-shuffle on both arms, and an
   off-width vector raises by name on both.

Scale shape: stage 1 reads the corpus once and emits partition-count rows;
everything after is O(dim²) regardless of corpus size. Eigenvector SIGN is
pinned (largest-|x| element made positive) so fits are reproducible.

The mapInPandas closure ships BY VALUE (imports in body, plain-list
captures) per the package-wide UDF rule (see encoder.py / vectorized.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import array_lit, length_guard, matrix_lit

_PARTIAL_SCHEMA = "n bigint, s array<double>, g array<double>"


@dataclass(frozen=True)
class PCAModel:
    mean: list[float]  # dim
    components: list[list[float]]  # out_dim rows × dim (unit, sign-pinned)
    eigvals: list[float]  # out_dim, descending (sample covariance)
    n: int


def _moment_partials(vec_col: str):
    """Self-contained mapInPandas fn: fold a partition into one
    (n, Σx, Σ xxᵀ flattened) row."""
    col = str(vec_col)

    def fold(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # row-level geometry guard (the mean_pool/bucket_signature
            # rule): one wrong-length embedding otherwise dies in an
            # opaque numpy inhomogeneous-shape error (or, across
            # partitions, an unaligned partial-sum broadcast) deep in an
            # executor — name the actual defect instead
            # NULL cells get their own named error BEFORE len(None)
            # turns into an opaque TypeError (round-8 ADVICE): pca_fit
            # filters nulls ahead of the fold, so a None here means the
            # caller wired the fold up without that filter
            if any(v is None for v in pdf[col]):
                raise ValueError(
                    f"pca_fit: NULL {col!r} reached the moment fold — "
                    "filter null embeddings before folding (pca_fit does "
                    "this; a direct caller must too)"
                )
            lens = sorted({len(v) for v in pdf[col]})
            if len(lens) > 1 or (s is not None and lens[0] != s.shape[0]):
                seen = lens if len(lens) > 1 else [s.shape[0], lens[0]]
                raise ValueError(
                    f"pca_fit: mixed embedding lengths {seen} — the "
                    "moment fold needs one fixed dim; filter or re-encode "
                    "the off-width rows first"
                )
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf[col]])
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            gg = x.T @ x
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    return fold


def pca_fit(df: DataFrame, vec_col: str = "embedding", out_dim: int = 8) -> PCAModel:
    """Fit PCA on ``vec_col`` with one distributed moment pass (see module
    docstring). Returns a dim-sized model; raises on an empty frame.
    NULL embeddings are excluded from the fit (both projection arms
    already pass nulls through; without this filter one null row fed
    np.asarray(None) into the moment fold and the whole fit died in an
    opaque executor traceback — review find)."""
    import numpy as np
    from pyspark.sql import functions as F

    partials = (
        df.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(_moment_partials(vec_col), _PARTIAL_SCHEMA)
    )

    def combine(batches):
        import numpy as np
        import pandas as pd

        n, s, g = 0, None, None
        for pdf in batches:
            for _, row in pdf.iterrows():
                n += int(row["n"])
                rs = np.asarray(row["s"], dtype=np.float64)
                rg = np.asarray(row["g"], dtype=np.float64)
                if s is not None and rs.shape != s.shape:
                    # per-partition-uniform but cross-partition-mixed dims
                    # (each partition's guard passed locally)
                    raise ValueError(
                        "pca_fit: partitions disagree on embedding dim "
                        f"({s.shape[0]} vs {rs.shape[0]}) — the corpus "
                        "mixes embedding widths; filter or re-encode first"
                    )
                s = rs if s is None else s + rs
                g = rg if g is None else g + rg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.tolist()]})

    rows = partials.repartition(1).mapInPandas(combine, _PARTIAL_SCHEMA).collect()
    if not rows:
        raise ValueError("pca_fit: empty input frame")
    n = rows[0]["n"]
    s = np.asarray(rows[0]["s"], dtype=np.float64)
    g = np.asarray(rows[0]["g"], dtype=np.float64)
    dim = s.shape[0]
    mu = s / n
    cov = (g.reshape(dim, dim) - n * np.outer(mu, mu)) / max(n - 1, 1)
    if out_dim > dim:
        raise ValueError(
            f"pca_fit: out_dim={out_dim} exceeds the vector dimensionality "
            f"{dim} — the model would silently carry only {dim} components "
            "and downstream fixed-width schemas would get short arrays"
        )
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:out_dim]
    comps, vals = [], []
    for i in order:
        v = evecs[:, i]
        if v[int(np.argmax(np.abs(v)))] < 0:  # pin sign → reproducible fit
            v = -v
        comps.append(v.tolist())
        vals.append(float(evals[i]))
    return PCAModel(mean=mu.tolist(), components=comps, eigvals=vals, n=int(n))


def _effective_components(model: PCAModel, whiten: bool, eps: float):
    """THE whitening fold — one definition (review find: the identical
    clamp+scale block had drifted into three copies): ``whiten=True``
    folds 1/√(λ+eps) into the components; the clamp exists because eigh
    returns tiny NEGATIVE eigenvalues for rank-deficient covariance and
    (λ+eps)**0.5 would go complex. Both ``pca_project`` arms (Catalyst,
    Arrow/BLAS) and the driver-side ``project_vec`` call this, so their
    pinned equivalence cannot silently break on a one-site convention
    change."""
    comps = model.components
    if whiten:
        scales = [1.0 / (max(lam, 0.0) + eps) ** 0.5 for lam in model.eigvals]
        comps = [[x * sc for x in row] for row, sc in zip(comps, scales)]
    return comps


def pca_project(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "proj",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project ``vec_col`` onto the fitted components — narrow, zero
    shuffle, null in → null out. The kernel follows the model width
    (``plans.planner.resolve_kernel(len(model.mean))``): below the
    crossover pure Catalyst (packed literals + zip_with/aggregate dots),
    at or above it the Arrow-batched ``pca_project_udf``. Either way an
    off-width vector raises by name with both widths. ``whiten=True``
    folds 1/√(λ+eps) into the components driver-side so the plan is
    identical either way."""
    from ..plans.planner import resolve_kernel

    dim = len(model.mean)
    vec = length_guard(vec_col, dim, "pca_project")
    if resolve_kernel(dim) == "blas":
        return df.withColumn(out_col, pca_project_udf(model, whiten, eps)(vec))
    centered = F.zip_with(vec, array_lit(model.mean), lambda a, b: a - b)
    w = matrix_lit(_effective_components(model, whiten, eps))
    proj = F.transform(
        w,
        lambda row: F.aggregate(
            F.zip_with(row, centered, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    # null in → null out (not an array OF nulls) — the same answer the
    # BLAS kernel gives
    return df.withColumn(out_col, F.when(vec.isNotNull(), proj))


def pca_project_udf(model: PCAModel, whiten: bool = False, eps: float = 1e-9):
    """Arrow-batched projection kernel, ``pca_project``'s arm at dim ≥ 256
    (where Catalyst HOF folds run interpreted — see vectorized.py): one
    Arrow transfer per batch, ``(batch×dim) @ (dim×out_dim)`` matmul.
    Closure ships by VALUE (plain-list captures, imports in body)."""
    from pyspark.sql.functions import pandas_udf

    comps = _effective_components(model, whiten, eps)
    mean_l = [float(x) for x in model.mean]
    comps_l = [[float(x) for x in row] for row in comps]

    @pandas_udf("array<double>")
    def _project(vecs):
        import numpy as np
        import pandas as pd

        w = np.array(comps_l, dtype=np.float64).T  # dim × out_dim
        mu = np.array(mean_l, dtype=np.float64)
        # null rows project to null (the Catalyst arm's semantics)
        mask = vecs.notna().to_numpy()
        out = pd.Series([None] * len(vecs), dtype=object)
        if mask.any():
            x = np.array(vecs[mask].tolist(), dtype=np.float64)
            out[mask] = pd.Series(list((x - mu) @ w), index=out.index[mask])
        return out

    return _project


def project_vec(
    model: PCAModel,
    vec: list[float],
    whiten: bool = False,
    eps: float = 1e-9,
) -> list[float]:
    """Driver-side twin of ``pca_project`` for a SINGLE vector — the query
    side of projected retrieval (the corpus is projected once at rest;
    each query projects in O(dim·out_dim) on the driver and rides into the
    plan as a literal). Same centering/whitening math as the column
    expression."""
    comps = _effective_components(model, whiten, eps)
    centered = [float(x) - m for x, m in zip(vec, model.mean)]
    return [sum(w * c for w, c in zip(row, centered)) for row in comps]


def explained_variance_ratio(model: PCAModel, total_variance: float) -> list[float]:
    """Per-component share of ``total_variance`` (pass trace(cov) or the
    sum over a FULL-rank fit's eigvals)."""
    if total_variance <= 0:
        raise ValueError("total_variance must be positive")
    return [lam / total_variance for lam in model.eigvals]
