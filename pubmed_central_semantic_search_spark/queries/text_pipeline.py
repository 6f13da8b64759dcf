"""Text-pipeline queries (SURVEY §2.3 F1-F6/H1, §2.4 N1-N6, §2.6 Q6, X4).

The reference's chunk pipeline — literal-separator chunking
(``data_fetcher.py:7-30``), double explode with positions
(``qdrant.py:124-131``), ±1-neighbor context windows
(``responses.py:81-87``) — exercised on the driver's ``documents`` table
(word-level tokens: the corpus has no sentence punctuation; the real
article pipeline with sentence/paragraph chunking is in
``operators/chunking.py`` + the fixture-based tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import clean_paragraph, content_key, strip_citations
from ..registry import load, register
from ..session import local_df

# ---------------------------------------------------------------------------
# F1 + N2 — chunk (tokenize) and explode with positions. The reference's
# ArticleChunker is a literal str.split (data_fetcher.py:28-30); positions
# come from enumerate() (qdrant.py:128). posexplode is the Spark analog —
# narrow (no shuffle), codegen'd, and at 100 TB the explosion happens
# executor-side with no driver involvement.


def _tokens(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).filter(F.col("token") != "")


@register(
    "q13_tokenize_explode",
    """
    WITH tokarm AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    -- P6+N1-N3 chunk arm: articles rebuilt from the flat corpus
    -- (abstract = first 8 tokens prepended as section 0 'Abstract' —
    -- prepend_abstract's contract; body = 16-token paragraphs), then the
    -- nested→flat explode with CLEAN-THEN-ENUMERATE positions (P5)
    d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    paras AS (
      SELECT doc_id, 0 AS section_id, 'Abstract' AS section_name,
             0 AS idx, array_to_string(toks[1:8], ' ') AS paragraph
      FROM d
      UNION ALL
      SELECT doc_id, 1, 'Body', CAST(i AS INT),
             array_to_string(toks[i * 16 + 9 : i * 16 + 24], ' ')
      FROM d, UNNEST(range(0,
             CAST(floor(greatest((len(toks) - 9) / 16.0, 0)) AS BIGINT) + 1)) AS t(i)
    ),
    chunkarm AS (
      SELECT doc_id, section_id, section_name,
             row_number() OVER (PARTITION BY doc_id, section_id ORDER BY idx)
               - 1 AS paragraph_id,
             paragraph
      FROM paras WHERE paragraph <> ''
    ),
    -- H2 arm: chunk_key (xxhash64 over the position-qualified natural
    -- key) has no DuckDB twin, so the oracle certifies its INJECTIVITY
    -- on the real corpus: the Spark side counts DISTINCT chunk ids, the
    -- oracle counts chunks — any collision hash-mismatches the row
    h2 AS (SELECT count(*) AS n FROM chunkarm)
    SELECT 'tok' AS kind, doc_id, CAST(pos AS BIGINT) AS pos, token
    FROM tokarm
    UNION ALL
    SELECT 'chunk' AS kind, doc_id, CAST(paragraph_id AS BIGINT) AS pos,
           section_id || ':' || section_name || ':' || paragraph AS token
    FROM chunkarm
    UNION ALL
    SELECT 'h2' AS kind, CAST(NULL AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS pos, CAST(n AS VARCHAR) AS token
    FROM h2
    """,
    survey_rows="F1, N2, P5 + P6 (prepend_abstract → section 0 "
    "'Abstract', value-certified through the chunk arm) + H2 (chunk_key "
    "injectivity on the real corpus: countDistinct(chunk_id) vs the "
    "oracle's chunk count — round-7 backfill of the two U-only rows)",
)
def q13_tokenize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import explode_chunks, prepend_abstract

    docs = load(spark, sf_dir, "documents")
    tok = _tokens(docs).select(
        F.lit("tok").alias("kind"),
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "token",
    )
    # the q21 article builder, P6 routed through the real operator
    toks = F.split("text", " ")
    body = docs.select(
        F.col("doc_id"),
        F.array_join(F.slice(toks, 1, 8), " ").alias("abstract_text"),
        F.array(F.lit("Body")).alias("section_names"),
        F.array(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest((F.size(toks) - 9) / 16, F.lit(0)).cast("int"),
                ),
                lambda i: F.array_join(F.slice(toks, i * 16 + 9, 16), " "),
            ),
        ).alias("sections"),
    )
    articles = prepend_abstract(
        body.withColumn("article_id", F.col("doc_id").cast("string")),
        "abstract_text",
        level="paragraph",
    )
    # no persist: the explode is narrow (recomputing it for the h2 arm is
    # cheaper than a cache entry this query would never unpersist — the
    # bench re-executes each query, and a leaked cache accretes)
    chunks = explode_chunks(
        articles.select("article_id", "section_names", "sections")
    )
    chunk = chunks.select(
        F.lit("chunk").alias("kind"),
        F.col("article_id").cast("bigint").alias("doc_id"),
        F.col("paragraph_id").cast("bigint").alias("pos"),
        F.concat_ws(
            ":",
            F.col("section_id").cast("string"),
            "section_name",
            "paragraph",
        ).alias("token"),
    )
    h2 = chunks.agg(
        F.countDistinct("chunk_id").alias("n_distinct"),
        F.count(F.lit(1)).cast("string").alias("n_str"),
    ).select(
        F.lit("h2").alias("kind"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.col("n_distinct").alias("pos"),
        F.col("n_str").alias("token"),
    )
    return tok.unionByName(chunk).unionByName(h2)


# ---------------------------------------------------------------------------
# F4/F5/H1 + X4 — scalar text functions: content hash (md5 — identical
# across engines), trim + citation strip, char/token counts.


@register(
    "q14_doc_text_funcs",
    """
    SELECT doc_id,
           md5(text) AS content_key,
           length(text) AS n_chars_computed,
           len(list_filter(string_split(regexp_replace(trim(text), '\\[[^\\]]*\\]', '', 'g'), ' '), t -> t <> '')) AS n_tokens,
           upper(substr(text, 1, 8)) AS head_upper
    FROM documents
    """,
    survey_rows="F4, F5, H1, X4",
)
def q14_doc_text_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    cleaned = strip_citations(clean_paragraph("text"))
    return d.select(
        "doc_id",
        content_key("text").alias("content_key"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
        F.size(F.filter(F.split(cleaned, " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tokens"),
        F.upper(F.substring("text", 1, 8)).alias("head_upper"),
    )


# ---------------------------------------------------------------------------
# X4 — corpus quality stats by language: doc counts, char stats, stopword
# ratio, source breadth. The aggregation shape (groupBy low-cardinality key)
# is partial-aggregated map-side; no skew concern.


@register(
    "q15_lang_stats",
    """
    WITH tok AS (
      SELECT doc_id, lang, n_chars,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_stop) AS DOUBLE) / sum(n_tokens), 6) AS stopword_ratio
    FROM tok GROUP BY lang
    """,
    survey_rows="X4, A1, A2",
)
def q15_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    stops = F.filter(F.split("text", " "), lambda t: t.isin("the", "a"))
    tok = d.select(
        "lang",
        "n_chars",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(stops).cast("bigint").alias("n_stop"),
    )
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_stop").cast("double") / F.sum("n_tokens"), 6
        ).alias("stopword_ratio"),
    )


# ---------------------------------------------------------------------------
# X1/H1 — exact duplication, both granularities:
# kind='doc'  — whole-document content-key dedup (the reference's hash-keyed
#               idempotent upsert, qdrant.py:137-139, generalized): one
#               groupBy(md5) shuffle, the standard 100 TB exact-dedup pass.
#               Stays the q16 registry row.
# 'span'      — repeated-SUBSTRING spans (ExactSubstr, Lee et al. ACL'22,
#               operators/dedup.py repeated_ngram_spans): DEMOTED round 9
#               (oracle-tower amortization policy; driver-green r3–r8) —
#               DuckDB parity runs as pytest over _Q16_SPAN_PARITY_SQL
#               (tests/test_dedup_spans.py), the bench number is the
#               x_exact_substr_spans extras entry.


# The demoted q16 'span' arm's oracle — shared VERBATIM by the pytest
# parity test (the amortization policy's contract: same CTE text, same
# value check, just out of the driver's 50-entry window).
_Q16_SPAN_PARITY_SQL = """
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ),
    w0 AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(len(toks) - 7, 0)),
               i -> md5(array_to_string(toks[i + 1 : i + 8], ' '))
             ) AS hs
      FROM d
    ),
    w AS (
      SELECT doc_id, CAST(generate_subscripts(hs, 1) - 1 AS BIGINT) AS pos,
             unnest(hs) AS h
      FROM w0
    ),
    hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
      FROM isl
    )
    SELECT doc_id,
           count(*) AS n,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 8 AS BIGINT) AS span_end
    FROM isl2 GROUP BY doc_id, isl
    """


def q16_span_parity_sql() -> str:
    return _Q16_SPAN_PARITY_SQL


def exact_substr_spans_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demoted q16 'span' arm's Spark side — also the
    x_exact_substr_spans bench entry: repeated 8-token window spans
    shared by ≥2 docs (hash-window blocking, no suffix array)."""
    from ..operators.dedup import repeated_ngram_spans

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return repeated_ngram_spans(
        d, "doc_id", "text", window=8, min_docs=2
    ).select(
        "doc_id", F.col("n_windows").alias("n"), "span_start", "span_end"
    )


# the q16 'bloom' arm's geometry: m = 2048·32 = 65536 bits holds the
# sf0.1 history (~3750 keys) at ~0.2% FP — small enough that the
# prefilter's maybe-side is visibly a remainder, large enough that the
# word replay is non-trivial (the sparse build omits zero words)
_Q16_BLOOM_WORDS, _Q16_BLOOM_K = 2048, 4


@register(
    "q16_exact_dedup",
    f"""
    WITH hist AS (
      SELECT text FROM documents WHERE doc_id % 4 <> 0
    )
    SELECT 'doc' AS kind,
           md5(text) AS content_key,
           min(doc_id) AS doc_id,
           count(*) AS n
    FROM documents
    GROUP BY md5(text)
    UNION ALL
    -- 'bloomword' arm (round-10 backfill): the membership sketch over
    -- the HISTORY partition's content keys is content-addressed
    -- (md5-prefix bit positions), so every 32-bit word is recomputed
    -- here bit for bit — certifying the positions, the pow-mask build
    -- and the bit_or fold that the anti-join prefilter rests on
    SELECT 'bloomword' AS kind,
           CAST(NULL AS VARCHAR) AS content_key,
           CAST(pos // 32 AS BIGINT) AS doc_id,
           CAST(bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS BIGINT) AS n
    FROM (
      SELECT CAST(('0x' || substr(md5(text || '#bf' || CAST(r AS VARCHAR)),
                                  1, 8))
                  AS BIGINT) % {_Q16_BLOOM_WORDS * 32} AS pos
      FROM hist, (VALUES (0), (1), (2), (3)) h(r)
    )
    GROUP BY 1, 2, 3
    UNION ALL
    -- 'bloomnew' arm: bloom_anti_join ≡ the exact anti-join it gates
    -- (no false negatives; the maybe remainder pays the exact join) —
    -- the incremental-dedup prefilter over the real corpus: batch =
    -- every 4th doc, history = the rest, result = batch docs whose
    -- exact text never appeared in history
    SELECT 'bloomnew' AS kind,
           md5(b.text) AS content_key,
           b.doc_id,
           CAST(NULL AS BIGINT) AS n
    FROM (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0) b
    ANTI JOIN hist h ON b.text = h.text
    UNION ALL
    -- 'bloomtab' arm (round-11 backfill): bloom_anti_join_table — the
    -- at-scale TABLE-probe tier (words persisted as a durable
    -- (word_idx, word) parquet table and probed via an equi-join on
    -- word_idx instead of a plan literal) — must equal the SAME exact
    -- anti-join it gates: no false negatives, the maybe remainder pays
    -- the exact join, so the final row set is the anti-join's
    SELECT 'bloomtab' AS kind,
           md5(b.text) AS content_key,
           b.doc_id,
           CAST(NULL AS BIGINT) AS n
    FROM (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0) b
    ANTI JOIN hist h ON b.text = h.text
    """,
    survey_rows="X1, H1 (doc arm; the ExactSubstr span arm was demoted "
    "round 9 after six green rounds — parity in tests/test_dedup_spans.py "
    "over _Q16_SPAN_PARITY_SQL, bench in x_exact_substr_spans) + X1/X6 "
    "bloom_anti_join as the incremental-dedup prefilter (round-10 "
    "backfill: the history partition's Bloom words recomputed bit for "
    "bit in SQL, and the prefiltered batch certified against the exact "
    "anti-join it gates) + bloom_anti_join_table (round-11 backfill: the "
    "at-scale TABLE-probe tier — the same words persisted as a durable "
    "parquet table, read back, and probed via the word_idx equi-join — "
    "certified against the same exact anti-join)",
)
def q16_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import bloom_anti_join, bloom_build, bloom_literal
    from ..session import cached_deps, release_tracked_caches, track_caches

    # Content hashing is a narrow CPU stage; the test-scale file is one
    # parquet partition, so rebalance first (q28's pattern — a no-op on
    # a production-width scan).
    #
    # Persist the shared scan (round-11): FIVE arms (doc groupBy, the
    # bloom_literal build action at plan time, bloomnew's batch+history
    # sides, bloomtab's probe+history sides) each re-scanned and
    # re-hashed the corpus; one persist serves them all — q23's
    # track/release cache discipline.
    release_tracked_caches("q16_exact_dedup")
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    ).persist()
    doc = d.groupBy(F.md5("text").alias("content_key")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.lit("doc").alias("kind"), "content_key", "doc_id", "n")
    # 'bloom' arms: history = 3/4 of the corpus, batch = every 4th doc —
    # the steady-state incremental-ingest shape. The words are built once
    # (driver literal, bloom_literal's amortize-the-build contract) and
    # serve BOTH the word-replay arm and the prefiltered anti-join.
    hist = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    words = bloom_literal(
        bloom_build(hist, "text", n_words=_Q16_BLOOM_WORDS, k=_Q16_BLOOM_K),
        _Q16_BLOOM_WORDS,
    )
    bw_rows = [(i, w) for i, w in enumerate(words) if w != 0]
    bw = local_df(spark, bw_rows, "doc_id bigint, n bigint").select(
        F.lit("bloomword").alias("kind"),
        F.lit(None).cast("string").alias("content_key"),
        "doc_id",
        "n",
    )
    bn = bloom_anti_join(
        batch, hist, "text",
        n_words=_Q16_BLOOM_WORDS, k=_Q16_BLOOM_K, words=words,
    ).select(
        F.lit("bloomnew").alias("kind"),
        F.md5("text").alias("content_key"),
        "doc_id",
        F.lit(None).cast("bigint").alias("n"),
    )
    # 'bloomtab' arm (round-11 backfill, verdict #2): the measured
    # ≥10⁶-key default path — the SAME filter persisted as a DURABLE
    # (word_idx, word, n_words, k) parquet table (the streaming bloom
    # sink's output shape), read back from disk, and probed through
    # bloom_anti_join_table's equi-join on word_idx instead of the plan
    # literal. The read-back rows are re-materialized driver-side
    # (≤ n_words rows BY CONSTRUCTION — the k-sized-collect rule) so the
    # temp dir is removed before the returned frame is consumed (q62's
    # materialize-before-cleanup discipline).
    import shutil
    import tempfile

    from ..operators.sketch import bloom_anti_join_table
    from ..session import collect_bounded

    bt_dir = tempfile.mkdtemp(prefix="pmc_q16bloomtab_")
    try:
        # coalesce(1): a ≤n_words-row KB-sized words table is ONE file at
        # any scale (round-13, guide §6 small-files) — the uncoalesced
        # local frame wrote defaultParallelism shard files, so both the
        # write and the read-back paid a 32-task listing for 2048 rows
        local_df(
            spark, bw_rows, "word_idx int, word bigint"
        ).withColumn("n_words", F.lit(_Q16_BLOOM_WORDS)).withColumn(
            "k", F.lit(_Q16_BLOOM_K)
        ).coalesce(1).write.mode("overwrite").parquet(bt_dir)
        back = [
            (int(r["word_idx"]), int(r["word"]),
             int(r["n_words"]), int(r["k"]))
            for r in collect_bounded(
                spark.read.parquet(bt_dir), _Q16_BLOOM_WORDS,
                "q16 bloom table read-back",
            )
        ]
    finally:
        shutil.rmtree(bt_dir, ignore_errors=True)
    bloom_tab = local_df(spark, back, "word_idx int, word bigint, n_words int, k int")
    bt = bloom_anti_join_table(
        batch, bloom_tab, hist, "text",
        n_words=_Q16_BLOOM_WORDS, k=_Q16_BLOOM_K,
    ).select(
        F.lit("bloomtab").alias("kind"),
        F.md5("text").alias("content_key"),
        "doc_id",
        F.lit(None).cast("bigint").alias("n"),
    )
    result = doc.unionByName(bw).unionByName(bn).unionByName(bt)
    # the returned plan reads the persist at the driver's collect —
    # track for the NEXT invocation's release (q23's rule)
    track_caches("q16_exact_dedup", cached_deps(result))
    return result


# ---------------------------------------------------------------------------
# Q6 — ±1-neighbor context expansion via lag/lead (the reference's
# context-window loop, responses.py:81-87, with the boundary clamp at
# :85,101 — lag/lead yield NULL at section bounds, coalesced to '').


@register(
    "q17_neighbor_context",
    """
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    ctx AS (
      SELECT doc_id, pos, token,
             coalesce(lag(token) OVER w, '') AS prev_token,
             coalesce(lead(token) OVER w, '') AS next_token
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT doc_id, pos, prev_token, next_token
    FROM ctx WHERE token = 'spark'
    """,
    survey_rows="Q6, Q5, N6",
)
def q17_neighbor_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _tokens(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    ctx = tok.select(
        "doc_id",
        "pos",
        "token",
        F.coalesce(F.lag("token").over(w), F.lit("")).alias("prev_token"),
        F.coalesce(F.lead("token").over(w), F.lit("")).alias("next_token"),
    )
    return ctx.filter(F.col("token") == "spark").select(
        "doc_id", "pos", "prev_token", "next_token"
    )


# ---------------------------------------------------------------------------
# X2 groundwork — 3-gram shingles + per-document fingerprint facts: distinct
# shingle count and the min shingle hash (a 1-permutation MinHash; the full
# banded MinHash-LSH near-dup operator builds on exactly this shape).


@register(
    "q18_shingle_fingerprint",
    """
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    sh AS (
      SELECT doc_id,
             token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS shingle
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT doc_id,
           count(DISTINCT shingle) AS n_shingles,
           min(md5(shingle)) AS min_shingle_hash
    FROM sh WHERE shingle IS NOT NULL
    GROUP BY doc_id
    """,
    survey_rows="X2 (shingling + minhash groundwork), H1",
)
def q18_shingle_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _tokens(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = tok.select(
        "doc_id",
        F.concat_ws(
            " ", "token", F.lead("token", 1).over(w), F.lead("token", 2).over(w)
        ).alias("shingle"),
        F.lead("token", 2).over(w).alias("_complete"),
    ).filter(F.col("_complete").isNotNull())
    return sh.groupBy("doc_id").agg(
        F.count_distinct("shingle").alias("n_shingles"),
        F.min(F.md5("shingle")).alias("min_shingle_hash"),
    )
