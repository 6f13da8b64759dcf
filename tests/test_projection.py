"""PCA/whitening operator — pinned against a plain-numpy recomputation
(hand-rolled oracle: np.cov + np.linalg.eigh on the collected rows)."""

import math

import numpy as np
import pytest

from pubmed_central_semantic_search_spark.operators.projection import (
    PCAModel,
    explained_variance_ratio,
    pca_fit,
    pca_project,
)

DIM = 8
N = 240


def _data():
    # deterministic anisotropic cloud: variance concentrated on a planted
    # axis, plus smaller noise directions (no RNG — trig lattice)
    axis = np.array([math.sin(0.5 * j + 0.2) for j in range(DIM)])
    axis /= np.linalg.norm(axis)
    rows = []
    for i in range(N):
        t = math.sin(1.7 * i)  # large spread along the planted axis
        noise = np.array([0.05 * math.sin(2.3 * i + 5 * j) for j in range(DIM)])
        rows.append((3.0 * t * axis + noise + 0.5).tolist())
    return rows


def _df(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(_data())],
        "vec_id long, embedding array<double>",
    )


def _np_fit(out_dim):
    x = np.array(_data())
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:out_dim]
    comps, vals = [], []
    for i in order:
        v = evecs[:, i]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append(v)
        vals.append(evals[i])
    return mu, np.array(comps), np.array(vals), cov


def test_fit_matches_numpy(spark):
    model = pca_fit(_df(spark), "embedding", out_dim=3)
    mu, comps, vals, _ = _np_fit(3)
    assert model.n == N
    np.testing.assert_allclose(model.mean, mu, rtol=0, atol=1e-10)
    np.testing.assert_allclose(model.eigvals, vals, rtol=1e-8)
    np.testing.assert_allclose(model.components, comps, rtol=0, atol=1e-8)


def test_top_component_recovers_planted_axis(spark):
    model = pca_fit(_df(spark), "embedding", out_dim=2)
    axis = np.array([math.sin(0.5 * j + 0.2) for j in range(DIM)])
    axis /= np.linalg.norm(axis)
    # |cos| ~ 1 against the planted dominant direction
    assert abs(np.dot(model.components[0], axis)) > 0.999
    # and it dominates the spectrum
    assert model.eigvals[0] > 10 * model.eigvals[1]


def test_projection_matches_numpy_and_is_narrow(spark):
    model = pca_fit(_df(spark), "embedding", out_dim=3)
    out = pca_project(_df(spark), model, "embedding").orderBy("vec_id")
    got = np.array([r["proj"] for r in out.collect()])
    x = np.array(_data())
    want = (x - np.array(model.mean)) @ np.array(model.components).T
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-8)
    # pure Catalyst: no shuffle, no Python stage in the projection plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_np_projection_matches_catalyst_path(spark):
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_project_udf,
    )

    model = pca_fit(_df(spark), "embedding", out_dim=3)
    for whiten in (False, True):
        hof = {
            r["vec_id"]: r["proj"]
            for r in pca_project(_df(spark), model, "embedding", whiten=whiten).collect()
        }
        blas = _df(spark).withColumn(
            "proj", pca_project_udf(model, whiten=whiten)(F.col("embedding"))
        )
        plan = blas._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
        got = {r["vec_id"]: r["proj"] for r in blas.collect()}
        for k in hof:
            np.testing.assert_allclose(got[k], hof[k], rtol=0, atol=1e-9)


def test_whitened_components_have_unit_variance(spark):
    model = pca_fit(_df(spark), "embedding", out_dim=2)
    out = pca_project(_df(spark), model, "embedding", whiten=True)
    p = np.array([r["proj"] for r in out.collect()])
    np.testing.assert_allclose(p.var(axis=0, ddof=1), [1.0, 1.0], rtol=1e-6)


def test_explained_variance_and_errors(spark):
    model = pca_fit(_df(spark), "embedding", out_dim=DIM)
    _, _, _, cov = _np_fit(DIM)
    ratios = explained_variance_ratio(model, float(np.trace(cov)))
    assert abs(sum(ratios) - 1.0) < 1e-8  # full-rank fit explains all
    assert ratios == sorted(ratios, reverse=True)
    with pytest.raises(ValueError):
        explained_variance_ratio(model, 0.0)
    with pytest.raises(ValueError):
        pca_fit(_df(spark).limit(0), "embedding", out_dim=2)


def test_fit_result_partition_invariant(spark):
    df = _df(spark)
    a = pca_fit(df.repartition(7), "embedding", out_dim=2)
    b = pca_fit(df.coalesce(1), "embedding", out_dim=2)
    np.testing.assert_allclose(a.mean, b.mean, atol=1e-12)
    np.testing.assert_allclose(a.components, b.components, atol=1e-9)


def test_moment_pass_is_arrow_batched(spark):
    from pubmed_central_semantic_search_spark.operators.projection import (
        _PARTIAL_SCHEMA,
        _moment_partials,
    )

    partials = _df(spark).select("embedding").mapInPandas(
        _moment_partials("embedding"), _PARTIAL_SCHEMA
    )
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # Arrow channel, never row-pickling
    assert "BatchEvalPython" not in plan


def test_moment_closure_is_self_contained():
    """Package ship-by-value UDF rule: the mapInPandas closure must
    unpickle and RUN with the package stripped from sys.path."""
    import os
    import subprocess
    import sys
    import tempfile

    import cloudpickle

    from pubmed_central_semantic_search_spark.operators.projection import (
        _moment_partials,
    )

    loader = (
        "import sys, pickle\n"
        "assert not any('pubmed_central' in p for p in sys.path)\n"
        "with open(sys.argv[1], 'rb') as fh:\n"
        "    f = pickle.load(fh)\n"
        "import pandas as pd\n"
        "out = list(f(iter([pd.DataFrame({'embedding': [[1.0, 2.0], [3.0, 4.0]]})])))\n"
        "assert out and out[0]['n'][0] == 2\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    with tempfile.NamedTemporaryFile(suffix=".pkl", delete=False) as fh:
        fh.write(cloudpickle.dumps(_moment_partials("embedding")))
        path = fh.name
    try:
        r = subprocess.run(
            [sys.executable, "-c", loader, path],
            cwd=tempfile.gettempdir(),
            env=env,
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert r.returncode == 0, f"not self-contained:\n{r.stderr[-2000:]}"
    finally:
        os.unlink(path)


def test_np_projection_closure_is_self_contained():
    """The REAL factory output (pca_project_udf(...).func) must unpickle
    and run with the package stripped — same contract as the vectorized
    kernels."""
    import os
    import subprocess
    import sys
    import tempfile

    import cloudpickle

    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_project_udf,
    )

    model = PCAModel(
        mean=[0.0, 0.0], components=[[1.0, 0.0]], eigvals=[1.0], n=2
    )
    fn = pca_project_udf(model).func
    if hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__

    loader = (
        "import sys, pickle\n"
        "assert not any('pubmed_central' in p for p in sys.path)\n"
        "with open(sys.argv[1], 'rb') as fh:\n"
        "    f = pickle.load(fh)\n"
        "import pandas as pd\n"
        "out = f(pd.Series([[1.0, 2.0], [3.0, 4.0]]))\n"
        "assert list(out.iloc[0]) == [1.0]\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    with tempfile.NamedTemporaryFile(suffix=".pkl", delete=False) as fh:
        fh.write(cloudpickle.dumps(fn))
        path = fh.name
    try:
        r = subprocess.run(
            [sys.executable, "-c", loader, path],
            cwd=tempfile.gettempdir(),
            env=env,
            capture_output=True,
            text=True,
            timeout=120,
        )
        assert r.returncode == 0, f"not self-contained:\n{r.stderr[-2000:]}"
    finally:
        os.unlink(path)


def _topk_ids(df, vec_col, qvec, k):
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.functions.vector import (
        array_lit,
        cosine_similarity,
    )

    return [
        r["vec_id"]
        for r in df.select(
            "vec_id",
            F.round(cosine_similarity(vec_col, array_lit(qvec)), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_pca_search_full_rank_preserves_centered_ranking(spark, sf_dir):
    """The retrieval contract behind x768_pca_search: projecting onto a
    FULL-rank component set preserves the centered-cosine ranking exactly
    (P is orthonormal over the data subspace, so centered inner products
    and norms survive) — at the bench's 768→64 the tiled corpus has rank
    <= 64, making the 12× compression lossless for retrieval."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.functions.vector import array_lit
    from pubmed_central_semantic_search_spark.operators.projection import (
        project_vec,
    )
    from pubmed_central_semantic_search_spark.registry import QUERY_VEC, load

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, "embedding", out_dim=64)
    proj = pca_project(emb, model, "embedding", out_col="p")
    got = _topk_ids(proj, "p", project_vec(model, QUERY_VEC), 20)
    centered = emb.withColumn(
        "cvec",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            array_lit(model.mean),
            lambda a, b: a - b,
        ),
    )
    qc = [q - m for q, m in zip(QUERY_VEC, model.mean)]
    want = _topk_ids(centered, "cvec", qc, 20)
    assert got == want


def test_pca_search_low_rank_recall_contract(spark):
    """The lossy tier's recall claim: on a corpus with genuine low-rank
    structure (8-dim latent mixed up to 64 observed dims + small noise —
    the shape real embedding corpora have, unlike the isotropic test
    table), retrieval on the 8-dim projection recovers >= 90% of the
    full-dim top-10."""
    import math

    from pubmed_central_semantic_search_spark.operators.projection import (
        project_vec,
    )

    latent_dim, obs_dim, n = 8, 64, 300
    # deterministic mixing matrix + latent factors (trig lattice, no RNG)
    mix = [
        [math.sin(0.7 * i + 1.3 * j + 0.4) for j in range(latent_dim)]
        for i in range(obs_dim)
    ]

    def vec(i):
        z = [math.sin(1.1 * i + 2.0 * k) for k in range(latent_dim)]
        return [
            sum(m * zz for m, zz in zip(row, z))
            + 0.01 * math.sin(3.1 * i + 7 * d)
            for d, row in enumerate(mix)
        ]

    df = spark.createDataFrame(
        [(i, vec(i)) for i in range(n)], "vec_id long, embedding array<double>"
    )
    q = vec(99991)
    full = _topk_ids(df, "embedding", q, 10)
    model = pca_fit(df, "embedding", out_dim=latent_dim)
    proj = pca_project(df, model, "embedding", out_col="p")
    got = _topk_ids(proj, "p", project_vec(model, q), 10)
    recall = len(set(got) & set(full)) / 10
    assert recall >= 0.9, (recall, got, full)


def test_project_vec_matches_column_expression(spark):
    """project_vec (the query-side driver twin) must agree with the
    pca_project column expression on the same vectors — whitened and
    plain."""
    df = _df(spark)
    model = pca_fit(df, out_dim=4)
    for whiten in (False, True):
        proj = pca_project(df, model, out_col="p", whiten=whiten)
        rows = proj.select("vec_id", "embedding", "p").orderBy("vec_id").limit(5).collect()
        from pubmed_central_semantic_search_spark.operators.projection import (
            project_vec,
        )

        for r in rows:
            want = project_vec(model, list(r["embedding"]), whiten=whiten)
            got = list(r["p"])
            assert all(abs(a - b) < 1e-9 for a, b in zip(got, want)), whiten


def test_pca_fit_mixed_dims_raise_named_error(spark):
    """Geometry guard (the mean_pool/bucket_signature rule): a corpus
    mixing embedding widths must fail pca_fit with a NAMED error, not an
    opaque executor numpy traceback (within-partition) or a partial-sum
    broadcast error (cross-partition)."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_fit,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="mixed embedding lengths"):
        pca_fit(df, out_dim=2)
    # cross-partition: each partition internally uniform
    a = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], "vec_id int, embedding array<double>").coalesce(1)
    b = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id int, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match="embedding"):
        pca_fit(a.union(b), out_dim=2)
