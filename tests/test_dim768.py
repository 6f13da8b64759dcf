"""dim=768 e2e proof (the reference's real dimensionality — VERDICT r1 #3).

The widening is a scaled tiling, so cosine at 768 EQUALS cosine at 64 in
real arithmetic — every 768 result has a certified-at-64 twin to check
against, and float noise is the only tolerated delta.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.queries.dim768 import (
    DIM,
    TILE_SCALES,
    corpus_768,
    x768_kmeans,
    x768_topk_cosine,
)
from pubmed_central_semantic_search_spark.registry import REGISTRY


def test_widen_preserves_cosine_topk(spark, sf_dir):
    """768-dim top-5 must be the SAME ids as the certified 64-dim q1, with
    scores equal to float noise."""
    base = REGISTRY["q1_topk_cosine"].spark(spark, sf_dir).collect()
    wide = x768_topk_cosine(spark, sf_dir).collect()
    assert [r["vec_id"] for r in wide] == [r["vec_id"] for r in base]
    for b, w in zip(base, wide):
        assert abs(b["score"] - w["score"]) < 1e-5


def test_wide_mean_pool_is_tiled_64_mean(spark, sf_dir):
    """The 768-wide grouped mean must equal the 64-dim grouped mean scaled
    per tile: mean768[t*64+i] = s_t * mean64[i]. Proves the (label, pos)
    hash aggregate computes every component correctly at full width."""
    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool_flat
    from pubmed_central_semantic_search_spark.registry import load

    emb = load(spark, sf_dir, "embeddings")
    m64 = {
        (r["label"], r["pos"]): r["mean_val"]
        for r in mean_pool_flat(emb, group=["label"], vec_col="embedding").collect()
    }
    m768 = {
        (r["label"], r["pos"]): r["mean_val"]
        for r in mean_pool_flat(
            corpus_768(spark, sf_dir), group=["label"], vec_col="embedding"
        ).collect()
    }
    assert len(m768) == len(m64) * (DIM // 64)
    for (label, pos), v in m768.items():
        t, i = divmod(pos, 64)
        assert v == pytest.approx(TILE_SCALES[t] * m64[(label, i)], abs=1e-9)


def test_kmeans_768_matches_64_assignments(spark, sf_dir):
    """Two Lloyd rounds at dim=768 (packed centroid literals) must
    reproduce the dim=64 assignments: tiling scales dots and norms
    uniformly, so argmax-cosine is invariant. Tolerate <=1% flips from
    float near-ties."""
    from pubmed_central_semantic_search_spark.operators.clustering import lloyd_kmeans
    from pubmed_central_semantic_search_spark.registry import load

    emb64 = load(spark, sf_dir, "embeddings").persist()
    emb768 = corpus_768(spark, sf_dir).persist()
    a64, _ = lloyd_kmeans(emb64, k=8, n_iter=2, dim=64)
    a768, _ = lloyd_kmeans(emb768, k=8, n_iter=2, dim=DIM)
    m64 = {r["vec_id"]: r["cluster_id"] for r in a64.collect()}
    m768 = {r["vec_id"]: r["cluster_id"] for r in a768.collect()}
    emb64.unpersist()
    emb768.unpersist()
    assert m64.keys() == m768.keys()
    agree = sum(1 for k in m64 if m64[k] == m768[k]) / len(m64)
    assert agree >= 0.99, f"assignment agreement {agree}"


def test_kmeans_768_bench_entry_runs(spark, sf_dir):
    out = x768_kmeans(spark, sf_dir).collect()
    assert sum(r["n"] for r in out) > 0


def test_sbert_seam_builds_when_library_present(spark):
    """Real-encoder seam (reference parity: qdrant.py:59,118-120): builds
    and encodes one batch when sentence-transformers exists. Skipped in
    containers without the library — the point is the path can't bit-rot
    silently where it IS installed."""
    pytest.importorskip("sentence_transformers")
    from pubmed_central_semantic_search_spark.encoder import sbert_encoder_udf

    udf = sbert_encoder_udf()
    df = spark.createDataFrame([("hello world",)], "text string").select(
        udf("text").alias("emb")
    )
    row = df.first()
    assert len(row["emb"]) > 0


def test_encode_search_768_runs_arrow_batched(spark, sf_dir):
    from pubmed_central_semantic_search_spark.queries.dim768 import x768_encode_search

    df = x768_encode_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 5 and all(-1.0 <= r["score"] <= 1.0 for r in rows)


def test_multiq_twins_agree(spark, sf_dir):
    """The bench twins x768_multiq (HOF crossJoin) and x768_multiq_np
    (one matmul pass for all 8 queries) must return the same (query_id,
    vec_id) result set — the perf comparison is only honest if the twins
    compute the same thing."""
    from pubmed_central_semantic_search_spark.queries.dim768 import (
        x768_multiq,
        x768_multiq_np,
    )

    hof = sorted(
        map(tuple, x768_multiq(spark, sf_dir).select("query_id", "vec_id").collect())
    )
    blas = sorted(
        map(tuple, x768_multiq_np(spark, sf_dir).select("query_id", "vec_id").collect())
    )
    assert hof == blas


def test_mean_pool_768_matches_numpy_float64_mean(spark):
    """mean_pool at the reference's width, with its dim=768 length guard:
    float32 vectors pool to their float64 numpy mean (a NULL element is
    skipped, a component NULL in every vector of a group stays NULL in
    place), an all-NULL group pools to NULL, and a 767-long vector raises
    by name."""
    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool

    vecs = np.random.default_rng(7).standard_normal((12, DIM)).astype(np.float32)
    mat = vecs.astype(np.float64)
    mat[0, 5] = np.nan  # one NULL element in group g0
    mat[9:, 0] = np.nan  # component 0 NULL in every vector of group n
    groups = ["g0", "g1", "g2"] * 3 + ["n"] * 3
    rows = [
        (g, [None if np.isnan(x) else float(x) for x in v])
        for g, v in zip(groups, mat)
    ] + [("z", None), ("z", None)]
    df = spark.createDataFrame(rows, "g string, embedding array<float>")
    got = {r["g"]: r["embedding"] for r in mean_pool(df, ["g"], dim=DIM).collect()}

    assert got.keys() == {"g0", "g1", "g2", "n", "z"}
    for i, g in enumerate(["g0", "g1", "g2"]):
        want = np.nanmean(mat[i:9:3], axis=0)
        assert np.max(np.abs(np.array(got[g]) - want)) <= 1e-12, g
    assert got["n"][0] is None
    want = mat[9:, 1:].mean(axis=0)
    assert np.max(np.abs(np.array(got["n"][1:]) - want)) <= 1e-12
    assert got["z"] is None

    short = spark.createDataFrame(
        [("s", vecs[0, :767].tolist())], "g string, embedding array<float>"
    )
    with pytest.raises(Exception, match="mean_pool: vector length 767 != dim = 768"):
        mean_pool(short, ["g"], dim=DIM).collect()
