"""Regression pins for the round-4 self-review findings: chunk_id
collisions on duplicate section names, empty-doc quality scoring,
replayed-ingest duplication, snapshot commit-race detection."""

import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.operators.chunking import explode_chunks
from pubmed_central_semantic_search_spark.operators.textstats import quality_score


def test_chunk_id_distinct_across_same_named_sections(spark):
    """Real JATS articles repeat section names ('Methods', ...);
    paragraph_id restarts per section, so the key must include the
    section POSITION or the keyed upsert silently drops the second
    section's paragraphs."""
    art = spark.createDataFrame(
        [("A", ["Methods", "Methods"], [["p0", "p1"], ["q0", "q1"]])],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    chunks = explode_chunks(art).collect()
    ids = [r["chunk_id"] for r in chunks]
    assert len(ids) == 4
    assert len(set(ids)) == 4, "chunk_id collided across same-named sections"


def test_quality_score_empty_doc_is_zero(spark):
    """NULL-skipping least() must not hand token-less docs the maximum
    stopword score (an empty doc used to score 400/1000)."""
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["quality_milli"] for r in quality_score(df).collect()}
    assert got[0] == 0
    assert got[1] == 0
    assert got[2] > 0


def test_start_ingest_replay_does_not_duplicate(spark, tmp_path):
    """Replayed micro-batches (fresh checkpoint over the same source —
    the at-least-once worst case) must not duplicate chunk or vector
    rows: the sink is a keyed upsert, not an append."""
    import json

    from pubmed_central_semantic_search_spark.streaming.ingest import start_ingest

    src = tmp_path / "src"
    src.mkdir()
    art = {
        "article_id": "A1",
        "section_names": ["Intro"],
        "sections": [["para one", "para two"]],
    }
    (src / "a.json").write_text(json.dumps(art) + "\n")
    chunks_path = str(tmp_path / "chunks")
    vecs_path = str(tmp_path / "vecs")
    for i in range(2):  # second run = full replay (new checkpoint)
        q = start_ingest(
            spark, str(src), chunks_path, vecs_path, str(tmp_path / f"ck{i}")
        )
        q.awaitTermination()
    chunks = spark.read.parquet(chunks_path)
    assert chunks.count() == 2
    assert chunks.select("chunk_id").distinct().count() == 2
    vecs = spark.read.parquet(vecs_path)
    assert vecs.count() == 1


def test_snapshot_commit_race_detected(spark, tmp_path, monkeypatch):
    """A peer committing the same version between this writer's version
    read and its manifest rename must make snapshot_write RAISE — never
    nest its staging inside the peer's manifest dir and report success
    (Hadoop rename into an existing destination directory returns true).
    Simulated by pinning this writer's version read to a stale value."""
    from pubmed_central_semantic_search_spark.sources import catalog

    table = str(tmp_path / "snap")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    assert catalog.snapshot_write(spark, df1, table) == 1
    peer_v2 = catalog.snapshot_write(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), table
    )
    assert peer_v2 == 2
    # this writer read versions BEFORE the peer committed v2
    monkeypatch.setattr(catalog, "snapshot_versions", lambda s, t: [1])
    with pytest.raises(RuntimeError, match="race"):
        catalog.snapshot_write(spark, df1, table)
    monkeypatch.undo()
    # the peer's commit is intact and readable
    assert sorted(
        map(tuple, catalog.snapshot_read(spark, table, version=2).collect())
    ) == [(1, "a"), (2, "b")]


def test_kmeans_dim_mismatch_raises(spark):
    """A wrong/default dim must fail loudly, not silently truncate the
    centroids (which would null-out every similarity and collapse all
    assignments to the lowest cluster id)."""
    from pubmed_central_semantic_search_spark.operators.clustering import (
        lloyd_kmeans,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim"):
        lloyd_kmeans(vecs, k=2, dim=4)
    assigned, cents = lloyd_kmeans(vecs, k=2, dim=8)
    assert all(len(v) == 8 for _, v in cents)


def test_minhash_bands_must_divide_hashes(spark):
    """Trailing hashes outside any band would silently change the tuned
    LSH threshold curve — reject the geometry loudly."""
    from pubmed_central_semantic_search_spark.operators.dedup import (
        minhash_band_keys,
    )

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_band_keys(df, "doc_id", "text", n_hashes=8, bands=3)


def test_reupload_shortened_article_removes_stale_chunks(spark, tmp_path):
    """Re-uploading an article with a paragraph deleted must remove that
    paragraph from the chunks table (group-replacing write) AND the doc
    vector must be re-pooled from the new chunks only."""
    from pubmed_central_semantic_search_spark.api import SemanticSearchEngine

    eng = SemanticSearchEngine(spark, str(tmp_path / "db"), dim=8)
    art = lambda paras: spark.createDataFrame(  # noqa: E731
        [("A", ["Intro"], [paras])],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    eng.upload_articles(art(["p one", "p two", "p three"]))
    assert spark.read.parquet(eng.chunks_path).count() == 3
    eng.upload_articles(art(["p one", "p three"]))
    chunks = spark.read.parquet(eng.chunks_path)
    assert chunks.count() == 2
    assert sorted(r["paragraph"] for r in chunks.collect()) == ["p one", "p three"]
    assert spark.read.parquet(eng.doc_vectors_path).count() == 1


def test_context_respects_section_position_not_name(spark):
    """Two sections named 'Methods': a hit in the second must collect
    context ONLY from the second (paragraph_id restarts per section, so a
    name-keyed join would interleave both)."""
    from pubmed_central_semantic_search_spark.operators.chunking import (
        explode_chunks,
    )
    from pubmed_central_semantic_search_spark.operators.search import (
        expand_context,
        highlight_with_context,
    )

    art = spark.createDataFrame(
        [("A", ["Methods", "Methods"], [["m0a", "m1a", "m2a"], ["m0b", "m1b", "m2b"]])],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    chunks = explode_chunks(art)
    # a fake hit at section_id=1 (second Methods), paragraph_id=1
    hit = chunks.filter(
        (F.col("section_id") == 1) & (F.col("paragraph_id") == 1)
    ).select(
        F.lit(0).alias("query_id"),
        "article_id",
        F.lit(1.0).alias("doc_score"),
        "section_id",
        "section_name",
        "paragraph_id",
        F.lit(0.9).alias("chunk_score"),
    )
    [row] = expand_context(hit, chunks, window=1).collect()
    assert row["context_paragraphs"] == ["m0b", "m1b", "m2b"]

    # end-to-end variant through the fused window path
    emb = chunks.withColumn(
        "embedding",
        F.when(F.col("paragraph") == "m1b", F.array(F.lit(1.0), F.lit(0.0)))
        .otherwise(F.array(F.lit(0.0), F.lit(1.0))),
    )
    top = spark.createDataFrame(
        [(0, [1.0, 0.0], "A", 1.0)],
        "query_id int, qvec array<double>, article_id string, doc_score double",
    )
    out = highlight_with_context(emb, top, n_paragraphs=1, window=1).collect()
    [r] = out
    assert r["paragraph_id"] == 1 and r["context_paragraphs"] == ["m0b", "m1b", "m2b"]


def test_salted_join_rejects_small_side_preserving_modes(spark):
    from pubmed_central_semantic_search_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10)], "k long, pk long")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    with pytest.raises(ValueError, match="preserving"):
        salted_join(big, small, on=["k"], salt_by=["pk"], how="full")
    ok = salted_join(big, small, on=["k"], salt_by=["pk"], how="left")
    assert ok.count() == 1


def test_cosine_similarity_zero_norm_scores_zero_not_crash(spark):
    """Under Spark 4's default ANSI mode the unguarded dot/(|a||b|) is
    DIVIDE_BY_ZERO; one degenerate embedding would abort a whole job.
    Convention: zero vector => similarity 0.0; null array stays null."""
    from pubmed_central_semantic_search_spark.functions.vector import (
        cosine_similarity,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)],
        "id long, v array<double>",
    )
    rows = {
        r["id"]: r["c"]
        for r in df.select(
            "id", cosine_similarity("v", F.array(F.lit(1.0), F.lit(0.0))).alias("c")
        ).collect()
    }
    assert rows[1] == 1.0 and rows[2] == 0.0 and rows[3] is None


def test_semantic_decontaminate_and_near_dup_tolerate_zero_vectors(spark):
    from pubmed_central_semantic_search_spark.operators.curation import (
        semantic_decontaminate,
    )
    from pubmed_central_semantic_search_spark.operators.dedup import (
        embedding_near_dup,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = semantic_decontaminate(corpus, bench, min_cosine=0.9).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in out] == [(1, 9)]
    nd = embedding_near_dup(
        corpus.withColumnRenamed("vec_id", "id"), "id", "embedding",
        min_cosine=0.9, allow_full_cross=True,  # 2-row test frame
    ).collect()
    assert nd == []  # the zero vector is never a near-dup, and no crash


def test_embedding_near_dup_cartesian_is_fenced(spark):
    """block_col=None without the explicit opt-in raises — the unblocked
    fallback is a reachable O(n²) cartesian otherwise (round-5 verdict)."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.dedup import (
        embedding_near_dup,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="allow_full_cross"):
        embedding_near_dup(df, "id", "embedding", min_cosine=0.9)


def test_bm25_duplicate_terms_use_qtf_weighting(spark):
    """A repeated query term adds its contribution once per occurrence —
    NOT doubled tf inside the saturation (the duplicate-join bug)."""
    from pubmed_central_semantic_search_spark.operators.retrieval import bm25_rank

    docs = spark.createDataFrame(
        [(1, "cancer cell"), (2, "gene cell")], "doc_id long, text string"
    )
    one = {r["doc_id"]: r["bm25_score"]
           for r in bm25_rank(docs, ["cancer"], k=10).collect()}
    two = {r["doc_id"]: r["bm25_score"]
           for r in bm25_rank(docs, ["cancer", "cancer"], k=10).collect()}
    assert abs(two[1] - 2 * one[1]) < 1e-6


def test_pq_encode_rejects_short_vectors_nulls_stay_null(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.pq import pq_encode

    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
    ok = spark.createDataFrame(
        [(1, [1.0, 1.0, 2.0, 2.0]), (2, None)], "id long, v array<double>"
    )
    rows = {r["id"]: r["c"] for r in ok.select("id", pq_encode("v", books).alias("c")).collect()}
    assert rows[1] == [1, 1] and rows[2] is None
    bad = spark.createDataFrame([(3, [5.0, 5.0])], "id long, v array<double>")
    with _pytest.raises(Exception, match="pq_encode: vector length"):
        bad.select(pq_encode("v", books).alias("c")).collect()


def test_pca_twins_agree_on_null_rows(spark):
    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_fit,
        pca_project,
        pca_project_udf,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [3.0, 1.0, 0.0]), (3, [0.0, 5.0, 1.0])],
        "id long, embedding array<double>",
    )
    model = pca_fit(df, out_dim=2)
    with_null = df.unionByName(
        spark.createDataFrame([(4, None)], "id long, embedding array<double>")
    )
    a = {r["id"]: r["proj"] for r in pca_project(with_null, model).collect()}
    blas = with_null.withColumn("proj", pca_project_udf(model)(F.col("embedding")))
    b = {r["id"]: r["proj"] for r in blas.collect()}
    assert a[4] is None and b[4] is None
    for i in (1, 2, 3):
        for x, y in zip(a[i], b[i]):
            assert abs(x - y) < 1e-9


def test_pca_fit_rejects_out_dim_beyond_vector_dim(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.projection import pca_fit

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 1.0])], "id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="out_dim"):
        pca_fit(df, out_dim=8)


def test_temperature_mix_rejects_null_group(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.curation import (
        temperature_mix,
    )

    df = spark.createDataFrame(
        [(1, "s1", "a b"), (2, None, "c d")],
        "doc_id long, source string, text string",
    )
    with _pytest.raises(ValueError, match="NULL"):
        temperature_mix(df, target_tokens=2)


def test_phone_scrub_does_not_swallow_following_text(spark):
    from pubmed_central_semantic_search_spark.operators.curation import scrub_pii

    df = spark.createDataFrame(
        [(1, "call +1 555 123 4567 - 9am"), (2, "+12345678 x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clean_text"] for r in scrub_pii(df).collect()}
    assert got[1] == "call <PHONE> - 9am"
    assert got[2] == "<PHONE> x"


def test_normalize_ws_makes_multiline_text_token_exact(spark):
    """The engine's documented tokenization convention is single-space
    text; normalize_ws is the ingest step that makes wild multi-line
    input satisfy it — after it, word counts, stop-hits, and the
    single-space length arithmetic are exact."""
    from pubmed_central_semantic_search_spark.functions.text import normalize_ws
    from pubmed_central_semantic_search_spark.operators.curation import _tokens
    from pubmed_central_semantic_search_spark.operators.textstats import (
        quality_features,
    )

    df = spark.createDataFrame(
        [(1, "over the\nthe lazy  dog\t end ")], "id long, text string"
    )
    norm = df.withColumn("text", normalize_ws("text"))
    [r] = quality_features(norm).select(
        F.size(_tokens("text")).alias("n"),
        F.col("mean_token_len").alias("ml"),
        "text",
    ).collect()
    assert r["text"] == "over the the lazy dog end"
    assert r["n"] == 6
    # exact mean token length: (4+3+3+4+3+3)/6
    assert abs(r["ml"] - 20 / 6) < 1e-6  # rounded to 6 in quality_features
    # raw text WOULD straddle: 'the\nthe' is one pseudo-token
    [raw] = df.select(F.size(_tokens("text")).alias("n")).collect()
    assert raw["n"] == 5


def test_asof_join_ignores_null_timestamps(spark):
    from pubmed_central_semantic_search_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 5), ("k", None)], "key string, ts int"
    )
    right = spark.createDataFrame(
        [("k", None, "bogus"), ("k", 3, "real")], "key string, ts int, v string"
    )
    out = {
        (r["ts"]): (r["asof_ts"], r["asof_v"])
        for r in asof_join(left, right, on=["key"], left_ts="ts", right_ts="ts").collect()
    }
    assert out[5] == (3, "real")  # matched the real row, not the null-ts one
    assert out[None] == (None, None)  # null left ts: no phantom match


def test_zvalue_rejects_out_of_range_inputs(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.plans.layout import zvalue

    ok = spark.createDataFrame([(3, 5)], "a int, b int")
    assert ok.select(zvalue(["a", "b"], bits=4).alias("z")).first()["z"] is not None
    bad = spark.createDataFrame([(16, 5)], "a int, b int")  # 16 >= 2^4
    with _pytest.raises(Exception, match="zvalue"):
        bad.select(zvalue(["a", "b"], bits=4).alias("z")).collect()
    neg = spark.createDataFrame([(-1, 5)], "a int, b int")
    with _pytest.raises(Exception, match="zvalue"):
        neg.select(zvalue(["a", "b"], bits=4).alias("z")).collect()


def test_sbert_dim_mismatch_raises_before_import(spark):
    """encoder='sbert' with a dim that disagrees with the model's output
    width must fail eagerly — silently ignoring it stored 768-dim chunks,
    pooled 64-dim doc vectors, and scored all-NULL cosines. The check
    runs BEFORE the import gate, so it's testable without the library."""
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.encoder import get_encoder_udf

    with _pytest.raises(ValueError, match="768"):
        get_encoder_udf("sbert", dim=64)


def test_mean_pool_rejects_wrong_dim_vectors(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool

    ok = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("a", [3.0, 5.0]), ("b", None)],
        "g string, embedding array<double>",
    )
    rows = {
        r["g"]: r["embedding"]
        for r in mean_pool(ok, ["g"], dim=2).collect()
    }
    assert rows["a"] == [2.0, 4.0]
    bad = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "g string, embedding array<double>"
    )
    with _pytest.raises(Exception, match="mean_pool: vector length"):
        mean_pool(bad, ["g"], dim=2).collect()


def test_quantization_scale_names_nan_vectors(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.quantize import (
        quantization_scale,
    )

    bad = spark.createDataFrame(
        [(1, [1.0, float("nan")])], "id long, v array<double>"
    )
    with _pytest.raises(Exception, match="NaN"):
        bad.select(quantization_scale("v").alias("s")).collect()


def test_parse_without_pmcid_is_poison_not_silent(spark):
    """A cleanly-parsed JATS doc with no pmcid article-id must surface as
    an error row (errors-stay-visible-as-data), never vanish."""
    from pubmed_central_semantic_search_spark.sources.pmc import (
        parse_articles,
        to_article_rows,
    )

    xml = "<article><body><sec><title>T</title><p>x. y.</p></sec></body></article>"
    xml_df = spark.createDataFrame([("PMCX", xml)], "pmcid string, xml string")
    parsed = parse_articles(xml_df)
    [row] = parsed.collect()
    assert row["error"] == "missing pmcid article-id"
    assert to_article_rows(parsed).count() == 0


def test_read_jsonl_splits_empty_paths_raises(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.sources.jsonl import (
        read_jsonl_splits,
    )

    with _pytest.raises(ValueError, match="empty paths"):
        read_jsonl_splits(spark, [])


def test_sql_cos_sim_zero_vector_scores_zero_under_ansi(spark):
    """Review find: the SQL cos_sim twin had no zero-norm guard — under
    Spark 4's default ANSI mode one empty document (hashed_features emits
    zero vectors for empty text) raised DIVIDE_BY_ZERO and killed any
    pure-SQL search query, where the DataFrame twin scores 0.0."""
    from pubmed_central_semantic_search_spark.sql import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT cos_sim(array(0D,0D), array(1D,2D)) AS z, "
        "cos_sim(array(1D,0D), array(1D,0D)) AS one"
    ).collect()[0]
    assert row["z"] == 0.0 and abs(row["one"] - 1.0) < 1e-12


def test_pca_fit_skips_null_embeddings(spark):
    """Review find: one NULL embedding row killed the whole moment pass
    in an opaque executor traceback; the fit now excludes nulls (the
    projection twins already pass them through)."""
    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_fit,
        pca_project,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 1.0]), (4, [0.0, 4.0])],
        "id long, embedding array<double>",
    )
    model = pca_fit(df, "embedding", out_dim=2)
    assert model.n == 3  # the null row is not part of the fit
    out = {r["id"]: r["proj"] for r in pca_project(df, model).collect()}
    assert out[2] is None and out[1] is not None


def test_dsir_null_text_scores_like_empty_doc(spark):
    """Review find: NULL text propagated NULL through dsir_buckets into
    the log-weight and Gumbel key — silently never selected and poisoning
    downstream arithmetic, where the docstring promises empty docs score
    0. Null text now pins to the empty-doc path."""
    from pubmed_central_semantic_search_spark.operators.dsir import (
        dsir_gumbel_key,
        dsir_logweight_micro,
    )

    df = spark.createDataFrame(
        [(1, "the quick fox"), (2, None), (3, "")], "id long, text string"
    )
    model = [0] * 256
    got = {
        r["id"]: (r["w"], r["k"])
        for r in df.select(
            "id",
            dsir_logweight_micro("text", model).alias("w"),
            dsir_gumbel_key(
                dsir_logweight_micro("text", model), F.col("id").cast("string")
            ).alias("k"),
        ).collect()
    }
    assert got[2][0] == got[3][0] == 0  # null ≡ empty, never NULL
    assert got[2][1] is not None  # the selection key exists for every doc


def test_zvalue_null_input_raises_named_null_error(spark):
    """Review find: a NULL dimension fell through between()'s NULL into
    the out-of-range error — the message sent users hunting for bad
    integers instead of nulls."""
    import pytest

    from pubmed_central_semantic_search_spark.plans.layout import zvalue

    df = spark.createDataFrame([(1, None)], "x int, y int")
    with pytest.raises(Exception, match="NULL input dimension"):
        df.select(zvalue(["x", "y"], bits=4).alias("z")).collect()
    # in-range rows still key correctly
    ok = spark.createDataFrame([(1, 2)], "x int, y int").select(
        zvalue(["x", "y"], bits=4).alias("z")
    ).collect()[0]["z"]
    assert ok == 0b1001  # interleave of x=01, y=10 at 2 cols


def test_render_strip_matches_reference_whitespace_class(spark):
    """Review find: render used trim() (ASCII spaces) where the reference
    strips ALL whitespace (responses.py:80 str.strip()) — a paragraph
    with a leading tab leaked '\\t' inside the <mark> markup. Both
    engines now strip the \\s class; render also reuses expand_context
    instead of duplicating its range-join contract."""
    from pubmed_central_semantic_search_spark.operators.chunking import (
        explode_chunks,
    )
    from pubmed_central_semantic_search_spark.operators.render import render_hits

    art = spark.createDataFrame(
        [("A", ["Intro"], [["\tTabbed lead\n", "plain"]])],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    chunks = explode_chunks(art)
    hit = chunks.filter(F.col("paragraph_id") == 0).select(
        F.lit(0).alias("query_id"),
        "article_id",
        F.lit(1.0).alias("doc_score"),
        "section_id",
        "section_name",
        "paragraph_id",
        F.lit(0.9).alias("chunk_score"),
    )
    [row] = render_hits(hit, chunks, window=1).collect()
    assert '<mark class="highlight-paragraph">Tabbed lead</mark>' in row["marked_html"]
    assert "\t" not in row["marked_html"]
    # the raw variant keeps the original text (the reference's
    # most-relevant block is unstripped, responses.py:96-104)
    assert "\tTabbed lead\n" in row["most_relevant_html"]


def test_lsh_bucket_dim_mismatch_raises_not_bucket_zero(spark):
    """Review find (verified empirically): a dim mismatch between the
    vectors and the hyperplanes null-padded every dot and silently sent
    ALL rows to bucket 0 — the LSH scale tier degraded to one full-cross-
    join bucket with correct-looking results. Named error now."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.ann import (
        with_lsh_bucket,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="hyperplane dim"):
        with_lsh_bucket(df, dim=64).collect()  # planes at 64, vectors at 32
    ok = with_lsh_bucket(df, dim=32).collect()
    assert ok[0]["bucket"] is not None


def test_pq_candidate_ranking_is_cosine_not_dot(spark):
    """Review find: ADC candidates were ranked by approximate DOT while
    the search contract is COSINE top-k — on a norm-varying corpus a
    big-norm low-cosine vector crowded the true neighbor out of the
    rerank set, unrecoverably. Candidates now rank by the reconstructed-
    norm approximate cosine."""
    from pubmed_central_semantic_search_spark.operators.pq import (
        pq_topk,
        train_pq,
    )

    dim, m = 8, 4
    query = [1.0, 0.0] * (dim // 2)

    def scaled(base, s):
        return [x * s for x in base]

    # one small-norm vector perfectly aligned with the query, many
    # huge-norm vectors at a lower cosine
    rows = [(0, scaled(query, 0.01))] + [
        (i, scaled([1.0, 1.0] * (dim // 2), 100.0 + i)) for i in range(1, 12)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq(vecs, m=m, ksub=4, dim=dim, n_iter=2)
    got = pq_topk(vecs, query, books, k=1, rerank=3)
    assert [r["vec_id"] for r in got.collect()] == [0]


def test_adc_lut_and_ivfpq_validate_query_length(spark):
    """Review find: zip() silently truncated a wrong-length query — half
    the subspaces scored 0 and the ranking was garbage with no error."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.pq import (
        adc_lut,
        ivfpq_topk,
        train_pq,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    books = train_pq(vecs, m=4, ksub=4, dim=8, n_iter=1)
    with pytest.raises(ValueError, match="query length"):
        adc_lut([1.0] * 4, books)
    with pytest.raises(ValueError, match="query length"):
        ivfpq_topk(vecs, [1.0] * 4, [(0, [0.0] * 8)], books)


def test_bigram_lm_zero_smoothing_rejected_and_cuni_is_marginal(spark):
    """Review finds: k=0 made unseen bigrams score ln(0)=NULL, which
    avg() silently skipped — junk docs got misleadingly GOOD perplexity;
    and c_uni is now the model-sized marginal of c_big (identical values,
    one fewer corpus pass)."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.lm import (
        bigram_perplexity,
        train_bigram_lm,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b")], "doc_id long, text string"
    )
    c_big, c_uni, v = train_bigram_lm(docs)
    # marginal identity: c1(w1) == sum of c12 over w2
    marg = {r["w1"]: r["c1"] for r in c_uni.collect()}
    direct = {
        r["w1"]: r["s"]
        for r in c_big.groupBy("w1").agg(F.sum("c12").alias("s")).collect()
    }
    assert marg == direct
    with pytest.raises(ValueError, match="smoothing"):
        bigram_perplexity(docs, c_big, c_uni, v, k=0)


def test_cosine_nan_embedding_scores_zero_not_top_hit(spark):
    """Review find: Spark compares NaN as GREATER than any double, so the
    bare n2 > 0 guard let a NaN embedding score NaN — which sorts above
    every real score descending, silently making the corrupted row the
    #1 result for every query."""
    from pubmed_central_semantic_search_spark.functions.vector import (
        cosine_similarity,
    )
    from pubmed_central_semantic_search_spark.operators.topk import top_k

    docs = spark.createDataFrame(
        [("good", [1.0, 0.0]), ("nan", [float("nan"), 1.0])],
        "id string, embedding array<double>",
    )
    scored = docs.select(
        "id",
        cosine_similarity("embedding", F.array(F.lit(1.0), F.lit(0.0))).alias(
            "score"
        ),
    )
    got = {r["id"]: r["score"] for r in scored.collect()}
    assert got["nan"] == 0.0  # never NaN
    assert [r["id"] for r in top_k(scored, "score", 1, tiebreak=["id"]).collect()] == [
        "good"
    ]


def test_l2_norm_plan_has_no_length_guard(spark, tmp_path):
    """l2_norm's optimized plan carries no size() comparison and no
    raise_error arm (dot's length guard, which a vector against itself
    cannot fail), and its values are sqrt(dot(v, v))'s bit for bit —
    [3,4] → 5, NULL → NULL, [0,0] → 0, [NaN] → NaN — with
    cosine_similarity's zero/NaN rule holding on top."""
    import math

    from pubmed_central_semantic_search_spark.functions.vector import (
        cosine_similarity,
        dot,
        l2_norm,
    )

    path = str(tmp_path / "v")
    spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [0.0, 0.0]), (4, [float("nan")])],
        "id long, v array<double>",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plan = (
        df.select(l2_norm("v").alias("n"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "size(" not in plan and "raise_error" not in plan, plan
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            l2_norm("v").alias("n"),
            F.sqrt(dot("v", "v")).alias("guarded"),
            cosine_similarity("v", F.array(F.lit(1.0), F.lit(0.0))).alias("c"),
        ).collect()
    }
    assert rows[1]["n"] == rows[1]["guarded"] == 5.0 and rows[1]["c"] == 0.6
    assert rows[2]["n"] is None and rows[2]["guarded"] is None
    assert rows[2]["c"] is None
    assert rows[3]["n"] == rows[3]["guarded"] == 0.0 and rows[3]["c"] == 0.0
    assert math.isnan(rows[4]["n"]) and math.isnan(rows[4]["guarded"])
    assert rows[4]["c"] == 0.0


def test_quantization_scale_inf_and_subnormal(spark):
    """Review find: the NaN guard missed ±Inf (scale inf → inf/inf = NaN
    → opaque ANSI cast abort) and subnormal maxima (scale underflows to
    0.0 → x/0.0 = Inf → same abort). Inf raises by name; subnormals fall
    back to the all-zero convention."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.quantize import (
        quantization_scale,
        quantize,
    )

    inf_df = spark.createDataFrame(
        [([1.0, float("inf")],)], "embedding array<double>"
    )
    with pytest.raises(Exception, match="NaN/Inf"):
        inf_df.select(quantization_scale("embedding")).collect()
    sub = spark.createDataFrame([([5e-324, 0.0],)], "embedding array<double>")
    [row] = sub.select(
        quantize("embedding", quantization_scale("embedding")).alias("q")
    ).collect()
    assert list(row["q"]) == [0, 0]  # sane, no ANSI abort


def test_prepend_abstract_null_abstract_keeps_alignment(spark):
    """Review find: a NULL abstract prepended [null] under the 'Abstract'
    name — explode emitted nothing for section 0 and the nested form
    desynced from its exploded form. Null now prepends an EMPTY section."""
    from pubmed_central_semantic_search_spark.operators.chunking import (
        explode_chunks,
        prepend_abstract,
    )

    art = spark.createDataFrame(
        [("A", ["Body"], [["para one"]], None)],
        "article_id string, section_names array<string>, "
        "sections array<array<string>>, abstract_text string",
    )
    out = prepend_abstract(art).collect()[0]
    assert out["section_names"] == ["Abstract", "Body"]
    assert out["sections"][0] == [] and out["sections"][1] == ["para one"]
    rows = explode_chunks(prepend_abstract(art)).collect()
    assert [(r["section_id"], r["paragraph"]) for r in rows] == [(1, "para one")]


def test_sbert_unknown_model_and_streaming_dim_seam(spark):
    """Review finds: an unlisted sbert model silently skipped the dim
    validation (reinstating the all-NULL-cosine hazard); and the
    streaming ingest path had no way to pass dim, so encoder='sbert'
    always tripped the eager guard there. Both seams now work by name."""
    import inspect

    import pytest

    from pubmed_central_semantic_search_spark.encoder import get_encoder_udf
    from pubmed_central_semantic_search_spark.streaming.ingest import (
        article_stream_to_chunks,
        start_ingest,
    )

    with pytest.raises(ValueError, match="unknown model"):
        get_encoder_udf("sbert", dim=384, model_name="not/a-listed-model")
    # the streaming path exposes dim end to end
    assert "dim" in inspect.signature(article_stream_to_chunks).parameters
    assert "dim" in inspect.signature(start_ingest).parameters


def test_blas_kernels_score_nan_rows_zero_like_hof(spark):
    """Review find (verified empirically before the fix): a NaN embedding
    scored NULL through the Arrow kernels but 0.0 through the fold, so
    the kernels returned different top-k ROW SETS. Both kernels now apply
    the degenerate-input-scores-0.0 convention; assignment argmax falls
    to the lowest centroid id like the HOF tie rule."""
    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )
    from pubmed_central_semantic_search_spark.operators.vectorized import (
        nearest_centroid_udf,
    )

    docs = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", [0.6, 0.8]),
            ("c", [float("nan"), 1.0]),
            ("d", [0.0, 1.0]),
        ],
        "article_id string, embedding array<double>",
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id int, qvec array<double>")
    key = lambda df: {  # noqa: E731
        (r["article_id"], None if r["doc_score"] is None else round(r["doc_score"], 6))
        for r in df.collect()
    }
    hof3 = key(score_documents(docs, q, k_docs=3, kernel="hof"))
    blas3 = key(score_documents(docs, q, k_docs=3, kernel="blas"))
    assert hof3 == blas3
    assert ("c", 0.0) in blas3  # NaN row scores 0.0, never NULL/NaN
    # assignment: NaN row falls to the lowest centroid id
    cents = [(3, [1.0, 0.0]), (7, [0.0, 1.0])]
    got = docs.select(
        "article_id", nearest_centroid_udf(cents)(F.col("embedding")).alias("c")
    ).collect()
    assert {r["article_id"]: r["c"] for r in got}["c"] == 3


def test_blas_null_qvec_matches_hof_and_single_eval(spark):
    """Review find: kernel='blas'/'auto' crashed with TypeError on a NULL
    query vector where the fold returned null scores; and the query plan
    was evaluated twice (collect + re-join). NULL-qvec queries now return
    null-score rows through both kernels."""
    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )

    docs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "article_id string, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None)], "query_id int, qvec array<double>"
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["article_id"],
         None if r["doc_score"] is None else round(r["doc_score"], 6))
        for r in df.collect()
    }
    for kernel in ("blas", "auto"):
        got = key(score_documents(docs, q, k_docs=5, kernel=kernel))
        assert got == key(score_documents(docs, q, k_docs=5, kernel="hof"))
        assert (1, "a", None) in got  # the null-qvec query still returns rows
    # all queries null — no crash, null scores
    qn = spark.createDataFrame([(9, None)], "query_id int, qvec array<double>")
    out = score_documents(docs, qn, k_docs=5, kernel="blas").collect()
    assert len(out) == 2 and all(r["doc_score"] is None for r in out)


def test_mean_pool_all_null_group_is_null_in_both_branches(spark):
    """Review find: an all-null-vector group pooled to [null]*dim with dim
    set but silently VANISHED in the dim-agnostic branch — different
    doc-vector row sets per call shape. Both branches now emit the group
    with a NULL vector (null in → null out)."""
    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool

    df = spark.createDataFrame(
        [("A", [1.0, 3.0]), ("A", [3.0, 5.0]), ("B", None), ("B", None)],
        "article_id string, embedding array<double>",
    )
    for dim in (2, None):
        rows = {
            r["article_id"]: r["embedding"]
            for r in mean_pool(df, ["article_id"], dim=dim).collect()
        }
        assert rows["A"] == [2.0, 4.0], (dim, rows)
        assert "B" in rows and rows["B"] is None, (dim, rows)


def test_grouped_top_k_rejects_rank_column_collision(spark):
    """Review find: a pre-existing 'rank' column was silently replaced
    then dropped — caller data lost with no error."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.topk import grouped_top_k

    df = spark.createDataFrame(
        [("g", 1.0, 99)], "g string, score double, rank int"
    )
    with pytest.raises(ValueError, match="rank"):
        grouped_top_k(df, ["g"], "score", 1)
    out = grouped_top_k(df, ["g"], "score", 1, rank_col="_rn2")
    assert out.collect()[0]["rank"] == 99  # caller's column survives


def test_dot_mismatched_lengths_raise_nulls_pass(spark):
    """Round-9 review pass: zip_with pads the shorter array with nulls,
    so dot() over a mixed-dimension corpus yielded NULL scores that
    silently sorted last and vanished from top-k. Mismatches now raise
    BY NAME; NULL arrays keep null-in -> null-out."""
    import pytest

    from pubmed_central_semantic_search_spark.functions.vector import dot

    ok = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0]), (None, [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = ok.select(dot("a", "b").alias("d")).collect()
    assert rows[0]["d"] == 11.0 and rows[1]["d"] is None
    bad = spark.createDataFrame(
        [([1.0, 2.0], [3.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="different lengths"):
        bad.select(dot("a", "b")).collect()


def test_rolling_fingerprint_frame_keeps_caller_id_column(spark):
    """Round-9 review pass: the frame variant returned its id as the
    internal name '_id', contradicting its docstring — callers joining
    on their own id column got an unresolved-column error."""
    from pubmed_central_semantic_search_spark.operators.textstats import (
        rolling_fingerprint,
        rolling_fingerprint_col,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = rolling_fingerprint(df, "doc_id", "text")
    assert out.columns == ["doc_id", "fingerprint"]
    rows = {r.doc_id: r.fingerprint for r in out.collect()}
    assert 3 not in rows  # token-less docs dropped
    want = df.filter("doc_id < 3").select(
        "doc_id", rolling_fingerprint_col("text").alias("f")
    ).collect()
    assert rows == {r.doc_id: r.f for r in want}
    assert rows[1] == rows[2]  # order-sensitive hash, same text


def test_hash_split_rejects_oversubscribed_shares(spark):
    """Round-9 review pass: shares summing over 1 silently emptied the
    later splits ({train: .8, val: .3, test: .1} left test with zero
    rows and no error). Under-1 sums stay legal (remainder -> last)."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.curation import (
        hash_split,
    )

    df = spark.range(100).selectExpr("id AS doc_id")
    with pytest.raises(ValueError, match="sum to <= 1"):
        hash_split(df, shares={"train": 0.8, "val": 0.3, "test": 0.1})
    with pytest.raises(ValueError, match="non-negative"):
        hash_split(df, shares={"train": 1.2, "val": -0.2})
    # remainder-to-last stays legal
    out = hash_split(df, shares={"a": 0.5, "b": 0.25})
    got = {r["split"] for r in out.select("split").distinct().collect()}
    assert got <= {"a", "b"} and "b" in got
