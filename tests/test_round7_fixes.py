"""Regression pins for the round-6 ADVICE findings: Unicode-whitespace
strip parity in the renderer, component-level-null mean pooling, the
exact top-k's null-qvec blas path, and the blas kernel's query_id typing."""

import duckdb
import pytest
from pyspark.sql import functions as F

# every character Python's str.strip() removes (the reference strips with
# str.strip(), responses.py:80) — the renderer's regex class must cover
# ALL of them, in BOTH engines
PY_WHITESPACE = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def test_strip_regex_matches_python_strip_in_both_engines(spark):
    """ADVICE find: \\s is ASCII-only in Java, so an NBSP-padded paragraph
    diverged from the reference's str.strip(). The shared UNICODE_WS class
    must strip every Python-whitespace char identically in Spark (Java
    regex) and DuckDB (RE2) — the q39 oracle splices the same literal."""
    from pubmed_central_semantic_search_spark.operators.render import STRIP_RE

    padded = [f"{c}text{c}" for c in PY_WHITESPACE] + [
        "\xa0  mixed pad 　\t",
        "no-pad",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in padded], "s string")
    got_spark = [
        r["out"]
        for r in df.select(
            F.regexp_replace("s", STRIP_RE, "").alias("out")
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT regexp_replace(?, ?, '', 'g')", [s, STRIP_RE]
        ).fetchone()[0]
        for s in padded
    ]
    want = [s.strip() for s in padded]
    assert got_spark == want
    assert got_duck == want


def test_render_strips_nbsp_padding(spark):
    """End-to-end through render_hits: a paragraph padded with NBSP and
    thin space renders a clean <mark> body."""
    from pubmed_central_semantic_search_spark.operators.chunking import (
        explode_chunks,
    )
    from pubmed_central_semantic_search_spark.operators.render import render_hits

    art = spark.createDataFrame(
        [("A", ["Intro"], [["\xa0 NBSP lead　", "plain"]])],
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
    assert '<mark class="highlight-paragraph">NBSP lead</mark>' in row["marked_html"]
    assert "\xa0" not in row["marked_html"]


def test_mean_pool_component_null_agrees_across_branches(spark):
    """ADVICE find: the dim branch used _m0 nullness as the all-null
    sentinel, so a group whose vectors are NULL at position 0 but real
    elsewhere pooled to NULL while the dim-agnostic branch emitted the
    surviving cells. Both branches now emit [null, mean...]."""
    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool

    df = spark.createDataFrame(
        [("A", [None, 3.0]), ("A", [None, 5.0]), ("B", [1.0, 1.0])],
        "article_id string, embedding array<double>",
    )
    for dim in (2, None):
        rows = {
            r["article_id"]: r["embedding"]
            for r in mean_pool(df, ["article_id"], dim=dim).collect()
        }
        assert rows["A"] == [None, 4.0], (dim, rows)
        assert rows["B"] == [1.0, 1.0], (dim, rows)
    with pytest.raises(ValueError, match="dim must be >= 1"):
        mean_pool(df, ["article_id"], dim=0)


def test_plan_topk_auto_and_blas_handle_null_qvecs(spark):
    """ADVICE find: the exact top-k's kernel='auto' peeked the FIRST qvec
    (TypeError when null) and the blas collect crashed on any null-qvec
    row while the score_documents twin null-scores them. Null-qvec rows
    now score NULL against every vector under every kernel."""
    from pubmed_central_semantic_search_spark.operators.ann import (
        brute_force_topk,
    )

    # a NULL embedding keeps its null-score row under every kernel (the
    # blas arm's posexplode of a null score array used to drop it)
    vecs = spark.createDataFrame(
        [(1, [1.0] * 300), (2, [0.0] * 299 + [1.0]), (3, None)],
        "vec_id int, embedding array<double>",
    )
    # null row FIRST so the unfiltered peek would have crashed; dim 300
    # routes auto → blas
    q = spark.createDataFrame(
        [(9, None), (0, [1.0] * 300)], "query_id int, qvec array<double>"
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["vec_id"],
         None if r["score"] is None else round(r["score"], 6))
        for r in df.collect()
    }
    hof = key(brute_force_topk(vecs, q, k=5, kernel="hof"))
    for kernel in ("auto", "blas"):
        assert key(brute_force_topk(vecs, q, k=5, kernel=kernel)) == hof
    assert (9, 1, None) in hof  # null-qvec query keeps its rows
    assert (0, 3, None) in hof  # null embedding keeps its row
    # ALL queries null: auto resolves dim 0 → hof, blas falls back — no crash
    qn = spark.createDataFrame([(7, None)], "query_id int, qvec array<double>")
    for kernel in ("auto", "blas"):
        out = brute_force_topk(vecs, qn, k=5, kernel=kernel).collect()
        assert len(out) == 3 and all(r["score"] is None for r in out)


def test_blas_kernel_preserves_query_id_type(spark):
    """ADVICE find: the blas local frame hardcoded `query_id int`, so
    string or 64-bit query ids worked under hof but failed (or mis-cast)
    under blas/auto — kernel choice changed the accepted input domain.
    The schema now derives from the caller's frame."""
    from pubmed_central_semantic_search_spark.operators.search import (
        score_documents,
    )

    docs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "article_id string, embedding array<double>",
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["article_id"],
         None if r["doc_score"] is None else round(r["doc_score"], 6))
        for r in df.collect()
    }
    for schema, ids in [
        ("query_id string, qvec array<double>", ("qa", "qb")),
        ("query_id bigint, qvec array<double>", (2**40, 2**40 + 1)),
    ]:
        q = spark.createDataFrame(
            [(ids[0], [1.0, 0.0]), (ids[1], None)], schema
        )
        blas = score_documents(docs, q, k_docs=5, kernel="blas")
        assert blas.schema["query_id"].dataType == q.schema["query_id"].dataType
        assert key(blas) == key(score_documents(docs, q, k_docs=5, kernel="hof"))


def test_collect_bounded_guard_and_call_sites(spark):
    """Round-6 verdict #7: the k-sized-collect guard is now a shared
    helper (session.collect_bounded) routed through the audited sites
    (BPE vocab, DSIR model, k-means centroids, PQ codebook, CMS cells,
    MMR candidates, blas query sides) — a caller that silently scales a
    'k-row' side gets a NAMED error, never a driver OOM."""
    from pubmed_central_semantic_search_spark.session import (
        collect_bounded,
        to_pandas_bounded,
    )

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    for collect in (collect_bounded, to_pandas_bounded):
        assert len(collect(df, 100, "test")) == 100
        with pytest.raises(ValueError, match="max_rows=99"):
            collect(df, 99, "test")
    # a converted site: recompute_centroids fences per-row cluster ids
    from pubmed_central_semantic_search_spark.operators.clustering import (
        recompute_centroids,
    )

    assigned = spark.range(50).selectExpr(
        "id AS cluster_id", "array(1.0, 2.0) AS embedding"
    )
    with pytest.raises(ValueError, match="centroid cells"):
        recompute_centroids(assigned, dim=2, max_clusters=10)
