"""Arrow-batched BLAS kernels (operators/vectorized.py): equivalence with
the JVM HOF path, tie-break contract, and intended plan shape."""

from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.functions.vector import (
    cosine_similarity,
)
from pubmed_central_semantic_search_spark.operators.ann import brute_force_topk
from pubmed_central_semantic_search_spark.operators.clustering import (
    _ranked_centroids,
    nearest_centroid,
    seed_centroids,
)
from pubmed_central_semantic_search_spark.operators.topk import top_k
from pubmed_central_semantic_search_spark.operators.vectorized import (
    multi_query_scores_udf,
)
from pubmed_central_semantic_search_spark.queries.dim768 import (
    corpus_768,
    widen_list,
)
from pubmed_central_semantic_search_spark.registry import QUERY_VEC, load


def _hof_topk(emb, query, k):
    scored = emb.select(
        "vec_id", cosine_similarity("embedding", F.lit(query)).alias("score")
    )
    return top_k(scored, "score", k, tiebreak=["vec_id"]).withColumn(
        "score", F.round("score", 6)
    )


def _blas_topk(emb, query, k):
    # the single-query BLAS top-k, ordered and rounded like _hof_topk
    q = emb.sparkSession.createDataFrame(
        [(0, query)], "query_id int, qvec array<double>"
    )
    return (
        brute_force_topk(emb, q, k, kernel="blas")
        .orderBy(F.desc("score"), "vec_id")
        .withColumn("score", F.round("score", 6))
    )


def test_np_topk_matches_hof_dim64(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    hof = _hof_topk(emb, QUERY_VEC, 10).collect()
    blas = _blas_topk(emb, QUERY_VEC, 10).collect()
    assert [(r["vec_id"], r["score"]) for r in hof] == [
        (r["vec_id"], r["score"]) for r in blas
    ]


def test_np_topk_matches_hof_dim768(spark, sf_dir):
    emb = corpus_768(spark, sf_dir)
    q = widen_list(QUERY_VEC)
    hof = _hof_topk(emb, q, 10).collect()
    blas = _blas_topk(emb, q, 10).collect()
    assert [(r["vec_id"], r["score"]) for r in hof] == [
        (r["vec_id"], r["score"]) for r in blas
    ]


def test_np_assignment_matches_jvm_literal_path(spark, sf_dir):
    emb = corpus_768(spark, sf_dir)
    cents = seed_centroids(emb, k=8)
    # the fold arm called explicitly; nearest_centroid itself resolves to
    # the BLAS arm at dim 768
    fold = F.element_at(_ranked_centroids("embedding", cents), 1).getField("c")
    jvm = {
        r["vec_id"]: r["cluster_id"]
        for r in emb.select("vec_id", fold.alias("cluster_id")).collect()
    }
    blas = {
        r["vec_id"]: r["cluster_id"]
        for r in emb.select(
            "vec_id", nearest_centroid("embedding", cents).alias("cluster_id")
        ).collect()
    }
    assert jvm == blas


def test_np_kernel_plan_is_arrow_batched(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = spark.createDataFrame([(0, QUERY_VEC)], "query_id int, qvec array<double>")
    df = brute_force_topk(emb, q, 5, kernel="blas")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the Python stage is INTENDED here — but it must be the Arrow-batched
    # pandas-UDF evaluator, never row-at-a-time pickling, and top-k must
    # still be per-partition heaps: a partial WindowGroupLimit cuts each
    # partition to k rows per query BELOW the shuffle
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # the kernel runs ONCE per row: posexplode over a projected kernel
    # column let Catalyst infer a size(...) > 0 filter below the generator
    # that evaluated the kernel a second time
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "row_number(), 5, Partial" in plan, plan
    assert plan.index("Exchange hashpartitioning") < plan.index(
        "row_number(), 5, Partial"
    ), plan


def test_np_scores_zero_and_null_vectors_match_hof_convention(spark):
    """Zero-norm rows score 0.0 (cosine_similarity's ANSI-safe rule —
    NaN would sort ABOVE every real score descending and hijack top-k);
    null rows score null instead of crashing the Arrow batch."""
    from pubmed_central_semantic_search_spark.functions.vector import (
        cosine_similarity,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    rows = df.select(
        "vec_id",
        multi_query_scores_udf([[1.0, 0.0]])(F.col("embedding"))[0].alias("s"),
        cosine_similarity(
            "embedding", F.array(F.lit(1.0), F.lit(0.0))
        ).alias("hof"),
    ).collect()
    by_id = {r["vec_id"]: (r["s"], r["hof"]) for r in rows}
    assert by_id[2] == (1.0, 1.0)
    assert by_id[1] == (0.0, 0.0)  # twins agree: zero-norm => 0.0
    assert by_id[3] == (None, None)  # twins agree: null => null


def test_np_kernels_are_self_contained(spark):
    """The package-wide UDF rule (encoder.py): closures ship by VALUE.
    If a UDF body references module-level helpers, cloudpickle serializes
    it by reference to this package and executors without the package on
    PYTHONPATH die with ModuleNotFoundError (exactly how the driver
    harness runs bench from its own cwd). The pickled payload must not
    mention the package name."""
    import cloudpickle

    from pubmed_central_semantic_search_spark.encoder import fake_encoder_udf
    from pubmed_central_semantic_search_spark.operators.vectorized import (
        multi_query_scores_udf,
        nearest_centroid_udf,
    )

    import os
    import subprocess
    import sys
    import tempfile

    loader = (
        "import sys, pickle, inspect\n"
        "assert not any('pubmed_central' in p for p in sys.path)\n"
        "with open(sys.argv[1], 'rb') as fh:\n"
        "    f = pickle.load(fh)  # by-reference pickling dies HERE\n"
        "import pandas as pd\n"
        "if inspect.isgeneratorfunction(f):  # SCALAR_ITER (encoder)\n"
        "    list(f(iter([pd.Series(['a', 'b'])])))\n"
        "else:\n"
        "    f(pd.Series([[1.0, 0.0], [0.5, 0.5]]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    for udf in (
        multi_query_scores_udf([[1.0, 0.0], [0.0, 1.0]]),
        nearest_centroid_udf([(0, [1.0, 0.0]), (1, [0.0, 1.0])]),
        fake_encoder_udf(dim=8),
    ):
        fn = udf.func
        if hasattr(fn, "__wrapped__"):
            fn = fn.__wrapped__
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


def test_multi_query_topk_matches_hof_brute_force(spark, sf_dir):
    from pubmed_central_semantic_search_spark.registry import QUERY_VECS, load

    emb = load(spark, sf_dir, "embeddings")
    qlist = sorted(QUERY_VECS.items())
    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in qlist], "query_id int, qvec array<double>"
    )
    hof = {
        (r["query_id"], r["vec_id"], round(r["score"], 6))
        for r in brute_force_topk(emb, qdf, k=7).collect()
    }
    blas = {
        (r["query_id"], r["vec_id"], round(r["score"], 6))
        for r in brute_force_topk(emb, qdf, k=7, kernel="blas").collect()
    }
    assert hof == blas


def test_multi_query_scores_order_preserved(spark):
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.vectorized import (
        multi_query_scores_udf,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    scores = df.select(
        multi_query_scores_udf([[1.0, 0.0], [0.0, 1.0]])(F.col("v")).alias("s")
    ).collect()[0]["s"]
    assert round(scores[0], 9) == 1.0 and round(scores[1], 9) == 0.0


def test_np_scores_zero_query_scores_zero_not_nan(spark):
    # a zero QUERY vector must not NaN-flood the scores (NaN sorts above
    # every double descending, so degenerate rows would win top-k);
    # the BLAS kernel substitutes query norm 1.0 → all scores 0.0
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    rows = df.select(
        "vec_id",
        multi_query_scores_udf([[0.0, 0.0]])(F.col("embedding"))[0].alias("s"),
    ).collect()
    assert all(r["s"] == 0.0 for r in rows)


def test_score_documents_auto_kernel_choice_is_plan_pinned(spark, sf_dir):
    """The auto kernel tier on the hot search path (round-5 verdict #7),
    pinned on a REGISTRY query's own inputs: q20/q3's dim-64 frames must
    resolve to the bit-exact HOF fold (no Python stage in the plan — the
    oracle contract), and the reference-width dim-768 twin must resolve
    to the Arrow/BLAS kernel (ArrowEvalPython, never BatchEvalPython) —
    with both kernels agreeing on the returned (query_id, article_id)
    rows at rounded scores."""
    import pyspark.sql.functions as F

    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )
    from pubmed_central_semantic_search_spark.queries.dim768 import (
        _multiq_768,
        corpus_768,
    )
    from pubmed_central_semantic_search_spark.registry import QUERY_VECS, load

    # --- registry shape (q3's exact inputs, dim 64) → auto picks HOF
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("article_id"), "embedding"
    )
    q64 = spark.createDataFrame(
        [(qid, v) for qid, v in QUERY_VECS.items()],
        "query_id int, qvec array<double>",
    )
    auto64 = score_documents(emb, q64, k_docs=5, kernel="auto")
    plan64 = auto64._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan64 and "BatchEvalPython" not in plan64
    hof64 = score_documents(emb, q64, k_docs=5, kernel="hof")
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["article_id"], round(r["doc_score"], 6))
        for r in df.collect()
    }
    assert key(auto64) == key(hof64)

    # --- reference width (dim 768) → auto picks BLAS, rows agree w/ HOF
    emb768 = corpus_768(spark, sf_dir).select(
        F.col("vec_id").alias("article_id"), "embedding"
    )
    q768 = spark.createDataFrame(
        _multiq_768()[:2], "query_id int, qvec array<double>"
    )
    auto768 = score_documents(emb768, q768, k_docs=5, kernel="auto")
    plan768 = auto768._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan768, plan768[:2000]
    assert "BatchEvalPython" not in plan768
    hof768 = score_documents(emb768, q768, k_docs=5, kernel="hof")
    assert key(auto768) == key(hof768)


def test_score_documents_blas_zero_queries_is_empty_not_crash(spark, sf_dir):
    """Explicit kernel='blas' with an EMPTY query frame returns an empty
    result instead of crashing numpy's axis-1 norm on a 0-row matrix."""
    import pyspark.sql.functions as F

    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("article_id"), "embedding"
    )
    q = spark.createDataFrame([], "query_id int, qvec array<double>")
    out = score_documents(emb, q, k_docs=3, kernel="blas")
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "qvec", "article_id", "doc_score"}


def test_blas_kernel_keeps_null_embedding_rows_like_hof(spark):
    """Review find: the blas arm's posexplode dropped NULL-embedding
    documents while the fold kept them as null-score rows — the kernels
    must agree on ROW SETS, not just rounded scores (visible whenever a
    group has fewer than k non-null docs)."""
    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )

    docs = spark.createDataFrame(
        [("A", [1.0, 0.0]), ("B", [0.5, 0.5]), ("C", None)],
        "article_id string, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id int, qvec array<double>"
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["article_id"],
         None if r["doc_score"] is None else round(r["doc_score"], 6))
        for r in df.collect()
    }
    hof = score_documents(docs, q, k_docs=5, kernel="hof")
    blas = score_documents(docs, q, k_docs=5, kernel="blas")
    assert key(hof) == key(blas)
    assert ("A" in {t[1] for t in key(blas)}) and (
        "C" in {t[1] for t in key(blas)}
    )


def test_assignment_and_projection_pick_kernel_by_width(spark, sf_dir, monkeypatch):
    """nearest_centroid and pca_project route through resolve_kernel on
    the width they already hold: below 256 the fold plans carry no Python
    stage; at 768 each evaluates its Arrow kernel exactly ONCE — also in
    the plan a Lloyd iteration collects (assign → posexplode →
    groupBy(cluster, pos)). A filter Catalyst infers and pushes below the
    kernel's projection would show up here as a second evaluation."""
    from pubmed_central_semantic_search_spark import session
    from pubmed_central_semantic_search_spark.operators.clustering import (
        lloyd_kmeans,
    )
    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_fit,
        pca_project,
    )

    lloyd_plans = []
    collect = session.collect_bounded

    def recording_collect(df, *args, **kwargs):
        lloyd_plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df, *args, **kwargs)

    monkeypatch.setattr(session, "collect_bounded", recording_collect)
    for emb, dim, want in (
        (load(spark, sf_dir, "embeddings"), 64, 0),
        (corpus_768(spark, sf_dir), 768, 1),
    ):
        cents = seed_centroids(emb, k=4)
        assigned = emb.withColumn("cluster_id", nearest_centroid("embedding", cents))
        proj = pca_project(emb, pca_fit(emb, "embedding", out_dim=4), "embedding")
        lloyd_plans.clear()
        lloyd_kmeans(emb, k=4, n_iter=1, dim=dim)
        assert len(lloyd_plans) == 1
        for plan in (
            assigned._jdf.queryExecution().executedPlan().toString(),
            proj._jdf.queryExecution().executedPlan().toString(),
            lloyd_plans[0],
        ):
            assert plan.count("ArrowEvalPython") == want, plan
            assert "BatchEvalPython" not in plan


def test_width_mismatch_raises_by_name_on_both_arms(spark):
    """An off-width vector raises by name with both widths — PCA on its
    fold arm (3-wide model) and BLAS arm (256-wide), and the BLAS
    assignment arm at 256 — instead of zip_with null-padding to
    ``[None]`` or numpy failing on a broadcast; NULL rows stay NULL."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.projection import (
        PCAModel,
        pca_project,
    )

    def unit(dim, i):
        return [1.0 if j == i else 0.0 for j in range(dim)]

    schema = "id long, embedding array<double>"
    for dim in (3, 256):
        model = PCAModel(
            mean=[0.0] * dim, components=[unit(dim, 0), unit(dim, 1)],
            eigvals=[2.0, 1.0], n=10,
        )
        bad = spark.createDataFrame([(1, unit(dim - 1, 0))], schema)
        with pytest.raises(
            Exception, match=f"pca_project: vector length {dim - 1} != dim = {dim}"
        ):
            pca_project(bad, model).collect()
        ok = spark.createDataFrame([(2, None), (3, unit(dim, 1))], schema)
        got = {r["id"]: r["proj"] for r in pca_project(ok, model).collect()}
        assert got == {2: None, 3: [0.0, 1.0]}

    cents = [(0, unit(256, 0)), (1, unit(256, 1))]
    bad = spark.createDataFrame([(1, unit(255, 0))], schema)
    with pytest.raises(
        Exception, match="nearest_centroid: vector length 255 != dim = 256"
    ):
        bad.select(nearest_centroid("embedding", cents)).collect()
    ok = spark.createDataFrame([(2, None), (3, unit(256, 1))], schema)
    got = {
        r["id"]: r["c"]
        for r in ok.select("id", nearest_centroid("embedding", cents).alias("c")).collect()
    }
    assert got == {2: None, 3: 1}


def test_ivf_probes_evaluate_the_assignment_kernel_once(spark):
    """At width 256 the assignment is the Arrow kernel, and the IVF
    searches filter on its output: ``ivf_topk`` through its equi-join
    (Catalyst infers ``isnotnull(cluster_id)``), ``ivfpq_topk`` through
    its ``isin(probed)`` list filter. A filter pushed below the assigning
    projection evaluates the kernel a second time when the projected id
    is still read above it (``ivf_topk``'s join key); each plan holds
    exactly one ``ArrowEvalPython``, and the search still answers."""
    import random

    from pubmed_central_semantic_search_spark.operators.clustering import ivf_topk
    from pubmed_central_semantic_search_spark.operators.pq import ivfpq_topk, train_pq

    dim = 256
    rng = random.Random(3)
    rows = [(i, [rng.random() for _ in range(dim)]) for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(emb, k=4)
    queries = spark.createDataFrame([(0, rows[5][1])], "query_id int, qvec array<double>")
    ivf = ivf_topk(emb, queries, cents, k=3, nprobe=4)
    books = train_pq(emb, m=8, ksub=4, dim=dim, n_iter=1)
    ivfpq = ivfpq_topk(emb, rows[5][1], cents, books, k=3, nprobe=4, rerank=48)
    for df in (ivf, ivfpq):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
    # every list probed: both searches find the query's own vector first
    assert ivf.orderBy(F.desc("score")).first()["vec_id"] == 5
    assert ivfpq.orderBy(F.desc("score")).first()["vec_id"] == 5
