"""End-to-end facade test — a reference user's workflow, 1:1
(setup → bulk upload → incremental PMCID-style upload → re-upload
overwrite → query with highlight + HTML), against parquet storage."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark import api
from pubmed_central_semantic_search_spark.api import SemanticSearchEngine
from pubmed_central_semantic_search_spark.schemas import ARTICLES_SCHEMA
from pubmed_central_semantic_search_spark.sources.pmc import (
    parse_articles,
    to_article_rows,
)

FIXTURE_XML = os.path.join(os.path.dirname(__file__), "fixtures", "pmc_article.xml")

ARTICLES = [
    ("PMC100", ["Intro"], [["deep learning models", "spark joins shuffle"]], "a1"),
    ("PMC200", ["Intro", "Methods"], [["protein folding"], ["wet lab assay", "gel"]], "a2"),
]


@pytest.fixture()
def engine(spark, tmp_path):
    eng = SemanticSearchEngine(spark, str(tmp_path / "db"))
    eng.reset_database()
    return eng


def test_full_reference_workflow(spark, engine, tmp_path):
    articles = spark.createDataFrame(ARTICLES, ARTICLES_SCHEMA)
    engine.upload_articles(articles)

    # storage mirrors the two collections (SURVEY §1.4)
    chunks = spark.read.parquet(engine.chunks_path)
    vecs = spark.read.parquet(engine.doc_vectors_path)
    assert chunks.count() == 5 and vecs.count() == 2
    assert "doc_pk" in vecs.columns  # H1 key

    # qdrant.py:233-247 signature parity; exact-text query wins its doc
    out = engine.query("spark joins shuffle", docs_per_query=1).collect()
    assert out[0]["article_id"] == "PMC100"
    assert out[0]["query_text"] == "spark joins shuffle"
    assert out[0]["chunk_score"] == pytest.approx(1.0, abs=1e-5)

    # highlight=False → doc hits only (Q4)
    docs_only = engine.query(["protein folding"], docs_per_query=2, highlight=False)
    assert docs_only.columns == ["query_id", "article_id", "doc_score", "query_text"]

    # HTML rendering (responses.py parity)
    html = engine.query_html("wet lab assay", docs_per_query=1).collect()[0]
    assert '<mark class="highlight-paragraph">' in html["marked_html"]
    assert "pmc.ncbi.nlm.nih.gov/articles/PMC200/" in html["article_link"]

    # re-upload with changed content overwrites, never duplicates
    # (qdrant.py:137-139 idempotent upsert semantics); a new article
    # rides in the same upload
    def doc_scores(eng, text):
        out = eng.query(text, docs_per_query=5, highlight=False).collect()
        return {r["article_id"]: r["doc_score"] for r in out}

    before = doc_scores(engine, "updated text")  # the tier now holds v1
    v2 = spark.createDataFrame(
        [
            ("PMC100", ["Intro"], [["deep learning models", "updated text"]], "a1"),
            ("PMC300", ["Intro"], [["graph coloring heuristics"]], "a3"),
        ],
        ARTICLES_SCHEMA,
    )
    engine.upload_articles(v2)
    assert spark.read.parquet(engine.doc_vectors_path).count() == 3
    # the commit invalidates the driver-held doc vectors: the new article
    # is found and the edited one is scored from its new vector
    after = doc_scores(engine, "updated text")
    assert set(after) == {"PMC100", "PMC200", "PMC300"}
    assert after["PMC100"] != pytest.approx(before["PMC100"], abs=1e-6)
    assert after["PMC200"] == pytest.approx(before["PMC200"], abs=1e-12)
    new = engine.query("graph coloring heuristics", docs_per_query=1).collect()
    assert new[0]["article_id"] == "PMC300"
    assert new[0]["doc_score"] == pytest.approx(1.0, abs=1e-5)
    texts = {
        r["paragraph"]
        for r in spark.read.parquet(engine.chunks_path)
        .filter("article_id = 'PMC100'")
        .collect()
    }
    assert texts == {"deep learning models", "updated text"}

    # after a reset and a fresh upload no stale vector is served: the
    # engine answers what an engine that never cached anything answers
    engine.reset_database()
    engine.upload_articles(spark.createDataFrame(
        [("PMC100", ["Intro"], [["fresh start"]], "a1")], ARTICLES_SCHEMA
    ))
    fresh = SemanticSearchEngine(spark, engine.root)
    for text in ("updated text", "fresh start"):
        assert doc_scores(engine, text) == doc_scores(fresh, text)
        assert list(doc_scores(engine, text)) == ["PMC100"]


def test_pmcid_ingest_offline_path(spark, engine):
    """upload_from_pmcids minus the network: canned JATS XML through the
    same parse→ingest pipeline (SURVEY §3.3)."""
    with open(FIXTURE_XML) as f:
        xml = f.read()
    parsed = parse_articles(
        spark.createDataFrame(
            [("PMC1234567", xml), ("PMCBAD", "<broken")], "pmcid string, xml string"
        )
    )
    engine.upload_articles(to_article_rows(parsed))
    vecs = spark.read.parquet(engine.doc_vectors_path)
    assert [r["article_id"] for r in vecs.collect()] == ["PMC1234567"]
    hit = engine.query("Venous thrombosis", docs_per_query=1).collect()[0]
    assert hit["article_id"] == "PMC1234567"


def test_pdf_stub_parity(engine):
    with pytest.raises(NotImplementedError):
        engine.upload_from_pdf("/nonexistent.pdf")


def _jobs(spark, fn) -> int:
    """The Spark jobs ``fn`` launches, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"test-api-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_engine_reference_width_uses_blas_kernel_same_ranks(spark, tmp_path):
    """At the reference's real dim (768, qdrant.py:74) the engine resolves
    its over-fence kernel to the Arrow/BLAS matmul at plan time; at narrow
    dims it stays on the bit-exact fold. A store this small is under the
    driver-tier fence at either width, so no Spark job scores documents:
    the first query reads the doc vectors once (one job), a warm one runs
    none. Both engines rank the same articles for the same query."""
    arts = spark.createDataFrame(
        [(aid, names, secs) for aid, names, secs, _ in ARTICLES],
        "article_id string, section_names array<string>, "
        "sections array<array<string>>",
    )
    ranks = {}
    for dim in (16, 768):
        eng = SemanticSearchEngine(
            spark, str(tmp_path / f"db{dim}"), encoder="fake", dim=dim
        )
        assert eng._kernel() == ("blas" if dim == 768 else "hof")
        eng.upload_articles(arts)

        def top():
            return eng.query("spark joins", docs_per_query=2, highlight=False).collect()

        assert _jobs(spark, top) == 1  # the tier's one read of the doc vectors
        assert _jobs(spark, top) == 0  # warm: no job at all
        ranks[dim] = [
            r["article_id"] for r in sorted(top(), key=lambda r: (-r["doc_score"], r["article_id"]))
        ]
    # different encoders spaces (dim differs) — but both must return the
    # full candidate set, ranked deterministically
    assert sorted(ranks[16]) == sorted(ranks[768]) == ["PMC100", "PMC200"]


def test_query_reads_only_ranked_articles_chunk_buckets(spark, tmp_path):
    """On a 16-bucket store a 1-text query's chunk scan reads exactly the
    live files of the ranked articles' buckets (the batch lookup's
    driver-side prune), and still answers with the right article."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        bucket_expr,
        read_record,
    )

    arts = spark.createDataFrame(
        [
            (f"PMC{i}", ["Intro"], [[f"topic {i} alpha", f"topic {i} beta"]], None)
            for i in range(24)
        ],
        ARTICLES_SCHEMA,
    )
    eng = SemanticSearchEngine(spark, str(tmp_path / "db"), partition_buckets=16)
    eng.upload_articles(arts)
    out = eng.query("topic 7 beta", docs_per_query=2, paragraphs_per_document=1)
    rows = out.collect()
    assert len(rows) == 2
    assert max(rows, key=lambda r: r["doc_score"])["article_id"] == "PMC7"
    ranked = sorted({r["article_id"] for r in rows})
    buckets = set(spark.range(1).select(*[
        bucket_expr([F.lit(a).cast("string")], 16).alias(a) for a in ranked
    ]).first())
    files = read_record(spark, eng.chunks_path)["files"]
    live = {f["path"] for f in files if f["bucket"] in buckets}
    assert live and len(live) < len(files)
    assert {f.split(eng.chunks_path + "/", 1)[1] for f in out.inputFiles()} == live


@pytest.mark.parametrize("dim", [16, 768])
def test_over_fence_arm_matches_driver_tier(spark, tmp_path, monkeypatch, dim):
    """Over the driver-tier fence (the broadcast threshold lowered below
    the doc table's size) the same store's queries run through
    ``score_documents`` on the cluster — its Arrow/BLAS kernel at dim 768,
    the Catalyst fold (no Python stage) at dim 16 — and return the tier's
    rows, ranks and scores (6 dp) for ``query``,
    ``query(highlight=False)`` and ``query_html``. Degenerate stored
    vectors follow the kernel's rules on both arms: NULL scores NULL and
    ranks last, zero and NaN score 0.0."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )

    arts = spark.createDataFrame(
        [(aid, names, secs, None) for aid, names, secs, _ in ARTICLES]
        + [
            ("PMC300", ["Intro"], [["graph coloring heuristics", "spark joins"]], None),
            ("PMC400", ["Body"], [["protein assay", "folding kinetics", "gel"]], None),
        ],
        ARTICLES_SCHEMA,
    )
    eng = SemanticSearchEngine(spark, str(tmp_path / "db"), dim=dim, partition_buckets=4)
    eng.upload_articles(arts)
    stored = read_upsert_table(spark, eng.doc_vectors_path)
    degenerate = spark.createDataFrame(
        [("PMC_NULL", None, 1), ("PMC_ZERO", [0.0] * dim, 2), ("PMC_NAN", [float("nan")] * dim, 3)],
        stored.select("article_id", "embedding", "doc_pk").schema,
    )
    upsert_parquet(
        spark, degenerate, eng.doc_vectors_path, key_cols=["article_id"], n_buckets=4
    )
    texts = ["spark joins shuffle", "protein folding", "wet lab assay"]

    def answers():
        def rows(df, order):
            return [
                tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                for r in sorted(df.collect(), key=order)
            ]

        def rank(r):
            null = r["doc_score"] is None
            return (r["query_id"], null, 0.0 if null else -r["doc_score"], r["article_id"])

        hit = lambda r: (*rank(r), r["paragraph_id"])  # noqa: E731
        return (
            rows(eng.query(texts, docs_per_query=2, paragraphs_per_document=2), hit),
            rows(eng.query(texts, docs_per_query=7, highlight=False), rank),
            rows(eng.query_html(texts, docs_per_query=2), hit),
        )

    tier = answers()
    plans = []
    original = api.score_documents

    def scoring(*args, **kwargs):
        out = original(*args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(api, "score_documents", scoring)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        over = answers()
    finally:
        spark.conf.set(key, saved)
    assert len(plans) == 3
    assert all("BatchEvalPython" not in p for p in plans)
    assert all(("ArrowEvalPython" in p) == (dim == 768) for p in plans)
    assert over == tier
    assert all(len(a) > 0 for a in tier)
    # 7 of the 7 stored documents per query: the NULL vector ranks last
    docs = tier[1]
    assert len(docs) == 3 * 7
    assert [r[1:3] for r in docs[6::7]] == [("PMC_NULL", None)] * 3
    assert {r[1]: r[2] for r in docs if r[1] in ("PMC_ZERO", "PMC_NAN")} == {
        "PMC_ZERO": 0.0, "PMC_NAN": 0.0
    }
