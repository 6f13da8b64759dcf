"""Semantic search — the reference's core query as ONE DataFrame plan
(SURVEY §2.6 Q1-Q7, §3.1).

Reference control flow (qdrant.py:201-247): encode query → top-k cosine
over document vectors → **per returned document** a filtered top-n cosine
search over that document's chunks (an N+1 loop) → join doc+chunk hits →
±1-paragraph context expansion (responses.py:81-104).

Spark re-architecture (strictly better than the reference's N+1):

1. queries (tiny) ⨯ doc_vectors — broadcast cross join, cosine score,
   per-query top-k via ranking window.  [one pass over doc vectors]
2. chunks ⋉ top_docs — broadcast semi-join on article_id (top_docs is
   k·queries rows — always broadcastable), cosine score, per
   (query, article) top-n via ranking window.  [one pass over chunks]
3. context expansion — broadcast range-join of hits back to chunks on
   (article_id, section_name, |paragraph_id − hit| ≤ w), collect_list
   ordered by position. Boundary clamp is implicit (no row, no join match
   — mirrors responses.py:85,101).

At 100 TB: doc_vectors and chunks are scanned exactly once each; no
shuffle of either big table (all joins broadcast the k-sized side);
scoring is codegen'd JVM work; the only "wide" steps are the two top-k
windows, which TakeOrderedAndProject-style heaps keep cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..schemas import ARTICLE_ID
from .ann import _exact_topk
from .topk import grouped_top_k


def score_documents(
    doc_vectors: DataFrame,
    queries: DataFrame,
    k_docs: int = 5,
    kernel: str = "hof",
) -> DataFrame:
    """Q1/Q3 — per-query top-k documents by cosine: the exact top-k of
    ``ann.brute_force_topk`` keyed on article_id, keeping each query's
    ``qvec`` for the chunk stage.

    ``queries``: (query_id, qvec) — the tiny side.
    ``doc_vectors``: (article_id, embedding, ...).
    Returns (query_id, qvec, article_id, doc_score).

    ``kernel`` (``hof``/``blas``/``auto``) picks the scoring engine as in
    ``brute_force_topk``; the default bit-exact fold is where every
    oracle row stays."""
    return _exact_topk(
        doc_vectors, queries, k_docs, ARTICLE_ID, "embedding", kernel
    ).withColumnRenamed("score", "doc_score")


def highlight_chunks(
    chunks: DataFrame, top_docs: DataFrame, n_paragraphs: int = 1
) -> DataFrame:
    """Q2 — filtered top-n chunk search for every (query, doc) hit, one
    pass. Replaces the reference's N+1 loop (qdrant.py:209-229).

    Returns (query_id, article_id, doc_score, section_name, paragraph_id,
    paragraph, chunk_score).
    """
    hits = top_docs.select("query_id", "qvec", ARTICLE_ID, "doc_score")
    joined = chunks.join(F.broadcast(hits), ARTICLE_ID)
    scored = joined.select(
        "query_id",
        ARTICLE_ID,
        "doc_score",
        "section_id",
        "section_name",
        "paragraph_id",
        "paragraph",
        cosine_similarity("embedding", F.col("qvec")).alias("chunk_score"),
    )
    return grouped_top_k(
        scored,
        ["query_id", ARTICLE_ID],
        "chunk_score",
        n_paragraphs,
        tiebreak=["section_id", "paragraph_id"],
    )


def expand_context(
    chunk_hits: DataFrame, chunks: DataFrame, window: int = 1
) -> DataFrame:
    """Q6 — ±window paragraph context per chunk hit, clamped to section
    bounds (responses.py:81-87,96-104). Range join + ordered collect;
    neighbors that fall outside the section simply don't join (set-union
    semantics — an already-highlighted neighbor appears once)."""
    hits = chunk_hits.select(
        "query_id",
        F.col(ARTICLE_ID).alias("h_article_id"),
        "doc_score",
        F.col("section_id").alias("h_section_id"),
        F.col("section_name").alias("h_section_name"),
        F.col("paragraph_id").alias("h_paragraph_id"),
        "chunk_score",
    )
    # Neighbor identity is the section POSITION, not its name: real JATS
    # articles repeat section names ('Methods' twice) and paragraph_id
    # restarts per section — joining on the name would interleave
    # paragraphs from the wrong same-named section into the context.
    neighbors = chunks.select(
        ARTICLE_ID, "section_id", "section_name", "paragraph_id", "paragraph"
    )
    joined = neighbors.join(
        F.broadcast(hits),
        (F.col(ARTICLE_ID) == F.col("h_article_id"))
        & (F.col("section_id") == F.col("h_section_id"))
        & (F.col("paragraph_id") >= F.col("h_paragraph_id") - window)
        & (F.col("paragraph_id") <= F.col("h_paragraph_id") + window),
    )
    return (
        joined.groupBy(
            "query_id",
            "h_article_id",
            "doc_score",
            "h_section_id",
            "h_section_name",
            "h_paragraph_id",
            "chunk_score",
        )
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("paragraph_id", "paragraph"))),
                lambda s: s["paragraph"],
            ).alias("context_paragraphs")
        )
        .select(
            "query_id",
            F.col("h_article_id").alias(ARTICLE_ID),
            "doc_score",
            F.col("h_section_name").alias("section_name"),
            F.col("h_paragraph_id").alias("paragraph_id"),
            "chunk_score",
            "context_paragraphs",
        )
    )


def highlight_with_context(
    chunks: DataFrame,
    top_docs: DataFrame,
    n_paragraphs: int = 1,
    window: int = 1,
) -> DataFrame:
    """Q2+Q6 fused — top-n chunk highlight AND ±window context in ONE scan
    of ``chunks`` and ONE shuffle.

    The two-step shape (``highlight_chunks`` then ``expand_context``) scans
    the chunk table twice — at 100 TB that is two full passes over the
    engine's biggest table. Here instead:

    1. chunks ⋈ broadcast(top_docs) on article_id prunes to candidate
       articles and scores each chunk (one scan, no shuffle).
    2. ``row_number`` window over (query_id, article_id) ranks chunks —
       the plan's ONLY exchange, hash(query_id, article_id).
    3. ``collect_list(paragraph)`` over (query_id, article_id,
       section_name) ORDER BY paragraph_id RANGE BETWEEN -w AND w builds
       the context array. RANGE frames give exactly the reference's
       semantics (responses.py:81-104): neighbors by paragraph-id
       *value*, clamped at section bounds (missing ids simply aren't in
       the frame), the hit itself included once (set-union). Because
       hash(query_id, article_id) already clusters the finer partition
       key, this window needs NO second exchange — just a sort.
    4. Filter rank ≤ n after the context frame, so non-top neighbors
       still contribute context before being dropped.
    """
    hits = top_docs.select("query_id", "qvec", ARTICLE_ID, "doc_score")
    joined = chunks.join(F.broadcast(hits), ARTICLE_ID).select(
        "query_id",
        ARTICLE_ID,
        "doc_score",
        "section_id",
        "section_name",
        "paragraph_id",
        "paragraph",
        cosine_similarity("embedding", F.col("qvec")).alias("chunk_score"),
    )
    w_rank = Window.partitionBy("query_id", ARTICLE_ID).orderBy(
        F.desc("chunk_score"), F.asc("section_id"), F.asc("paragraph_id")
    )
    # Partition by the section POSITION (section_id), not its name: two
    # same-named sections restart paragraph_id, and a name-keyed window
    # would collect context rows from both (see expand_context).
    w_ctx = (
        Window.partitionBy("query_id", ARTICLE_ID, "section_id")
        .orderBy("paragraph_id")
        .rangeBetween(-window, window)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("context_paragraphs", F.collect_list("paragraph").over(w_ctx))
        .filter(F.col("_rn") <= n_paragraphs)
        .select(
            "query_id",
            ARTICLE_ID,
            "doc_score",
            "section_name",
            "paragraph_id",
            "chunk_score",
            "context_paragraphs",
        )
    )


def semantic_search(
    doc_vectors: DataFrame,
    chunks: DataFrame,
    queries: DataFrame,
    k_docs: int = 5,
    n_paragraphs: int = 1,
    highlight: bool = True,
    context_window: int = 1,
    kernel: str = "hof",
) -> DataFrame:
    """The full reference query (qdrant.py:233-247 + responses.py), one plan.

    ``highlight=False`` skips chunk search entirely (Q4, qdrant.py:201) —
    conditional plan construction, the Spark analog of the reference's
    runtime flag. Defaults mirror the UI (k=5 docs, 1 paragraph,
    app.py:113,118; app.py:21). ``kernel`` routes the document-scoring
    stage (see score_documents) — oracle callers stay on the default
    bit-exact fold."""
    top_docs = score_documents(doc_vectors, queries, k_docs, kernel=kernel)
    if not highlight:
        return top_docs.select("query_id", ARTICLE_ID, "doc_score")
    return highlight_with_context(chunks, top_docs, n_paragraphs, context_window)
