"""Curation + hybrid-retrieval queries (north-star EXT pack): BM25
lexical ranking, hybrid RRF fusion with the cosine ranking, stable hash
splits, LLM sequence packing, benchmark decontamination. Every query is
DuckDB-oracle-checked value for value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import array_lit, cosine_similarity
from ..operators.curation import (
    decontaminate,
    hash_split,
    pack_sequences,
    scrub_pii,
    select_token_budget,
    semantic_decontaminate,
)
from ..operators.retrieval import bm25_rank, rrf_fuse
from ..operators.textstats import build_vocab, tfidf_top_terms
from ..registry import QUERY_VEC, load, register, sql_vec

BM25_TERMS = ("join", "hash", "window", "vector")
_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"

_BM25_CTE = f"""
    base AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
      FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token AS term, count(*) AS tf
      FROM tok WHERE token IN {_TERMS_SQL}
      GROUP BY doc_id, token
    ),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)) AS sc
      FROM tf
      JOIN dfreq d USING (term)
      JOIN base b USING (doc_id)
      CROSS JOIN stats s
    ),
    bm25 AS (
      SELECT doc_id, round(sum(sc), 6) AS bm25_score,
             row_number() OVER (ORDER BY round(sum(sc), 6) DESC, doc_id)
               AS bm25_rank
      FROM contrib GROUP BY doc_id
    )
"""


# Hybrid retrieval in ONE driver row, tagged union of TWO lexical query
# classes: 'rrf' — the BM25 lexical ranking (scores exposed — the
# oracle's bm25 CTE is the full Okapi contract), the cosine ranking, and
# their reciprocal-rank fusion (a value match certifies the lexical
# ranker AND the fusion); 'phrase' — exact-phrase search over the
# positional inverted index (operators/retrieval.py phrase_match_counts —
# term ORDER and adjacency, the query class BM25's bag-of-words cannot
# express; the oracle recomputes anchors + all-offsets-present from the
# same token stream).

PHRASE = ("hash", "join")

# --- q49 'mmr' + 'xrank' arms (round-8 backfill: both re-rankers were
# U-only). 'mmr': greedy maximal-marginal-relevance over the top-20
# cosine candidates — the selection chain is inherently sequential, so
# the oracle UNROLLS the k=5 picks as CTEs (the Lloyd/BPE pattern);
# every quantity compared is 6-dp-rounded before selection in BOTH
# engines (the operator's own float-noise-proofing), so rel/red/score
# and the pick order replay exactly. 'xrank': the fake-tier
# cross-encoder pair scorer — md5-derived, DuckDB recomputes every score
# bit for bit (the E1 fake-encoder convention).
_MMR_K, _MMR_N, _MMR_LAM = 5, 20, 0.6
_XRANK_QUERY, _XRANK_K = "spark join strategies", 10


def _mmr_ctes(qvec_sql: str) -> str:
    lam, lamc = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    parts = [f"""
    mcand AS (
      SELECT doc_id, emb, rel FROM (
        SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS emb,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            {qvec_sql}), 6) AS rel
        FROM embeddings
      ) ORDER BY rel DESC, doc_id LIMIT {_MMR_N}
    ),
    mpair AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS c
      FROM mcand a JOIN mcand b ON a.doc_id <> b.doc_id
    ),
    m_sel1 AS (
      SELECT doc_id, rel, CAST(0.0 AS DOUBLE) AS red,
             round({lam} * rel - {lamc} * 0.0, 6) AS score
      FROM mcand
      ORDER BY round({lam} * rel - {lamc} * 0.0, 6) DESC, doc_id LIMIT 1
    )"""]
    prev_rem = "mcand"
    for i in range(2, _MMR_K + 1):
        red_expr = "p.c" if i == 2 else "greatest(t.red, p.c)"
        src = "c" if i == 2 else "t"
        alias = "c" if i == 2 else "t"
        parts.append(f"""
    m_rem{i - 1} AS (
      SELECT {alias}.doc_id, {alias}.rel, {red_expr} AS red
      FROM {prev_rem} {alias}
      JOIN m_sel{i - 1} s ON {alias}.doc_id <> s.doc_id
      JOIN mpair p ON p.ia = {alias}.doc_id AND p.ib = s.doc_id
    ),
    m_sel{i} AS (
      SELECT doc_id, rel, red,
             round({lam} * rel - {lamc} * red, 6) AS score
      FROM m_rem{i - 1}
      ORDER BY round({lam} * rel - {lamc} * red, 6) DESC, doc_id LIMIT 1
    )""")
        prev_rem = f"m_rem{i - 1}"
    sel_union = " UNION ALL ".join(
        f"SELECT {i} AS mmr_rank, doc_id, rel, red, score FROM m_sel{i}"
        for i in range(1, _MMR_K + 1)
    )
    parts.append(f"""
    m_out AS ({sel_union})""")
    return ",".join(parts)


_XRANK_CTES = f"""
    xr AS (
      SELECT b.doc_id,
             round(CAST(('0x' || substr(md5('{_XRANK_QUERY}' || chr(30)
                        || coalesce(d.text, '')), 1, 8)) AS BIGINT)
                   / 4294967296.0, 6) AS ce_score
      FROM bm25_top b JOIN documents d USING (doc_id)
    ),
    xr_top AS (
      SELECT doc_id, ce_score,
             row_number() OVER (ORDER BY ce_score DESC, doc_id) AS ce_rank
      FROM xr
      QUALIFY row_number() OVER (ORDER BY ce_score DESC, doc_id) <= {_XRANK_K}
    )
"""


@register(
    "q49_hybrid_rrf",
    f"""
    WITH {_BM25_CTE},
    bm25_top AS (SELECT * FROM bm25 WHERE bm25_rank <= 100),
    cos AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                          {sql_vec(QUERY_VEC)}), 6) AS cos_score
      FROM embeddings
    ),
    cos_top AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_score DESC, doc_id) AS cos_rank
      FROM cos
      QUALIFY row_number() OVER (ORDER BY cos_score DESC, doc_id) <= 100
    ),
    fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             b.bm25_rank, c.cos_rank,
             coalesce(b.bm25_score, -1.0) AS bm25_score,
             coalesce(1.0 / (60 + b.bm25_rank), 0)
               + coalesce(1.0 / (60 + c.cos_rank), 0) AS rrf
      FROM bm25_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    ),
    ptoks_raw AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    -- densify positions over NON-EMPTY tokens (the _tokens convention;
    -- raw split positions would disagree with phrase_match_counts'
    -- posexplode on multi-space text — q52's dense CTE rule)
    ptoks AS (
      SELECT doc_id, token,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos
      FROM ptoks_raw
    ),
    pq(term, off) AS (VALUES ('{PHRASE[0]}', 0), ('{PHRASE[1]}', 1)),
    pstarts AS (
      SELECT t.doc_id, t.pos - pq.off AS anchor
      FROM ptoks t JOIN pq ON t.token = pq.term
      WHERE t.pos - pq.off >= 0
      GROUP BY t.doc_id, t.pos - pq.off
      HAVING COUNT(DISTINCT pq.off) = {len(PHRASE)}
    )
    , hn_pos AS (
      -- round-before-rank (mine_hard_negatives' positive selection):
      -- both engines pick the positive on the 6-dp cosine, vec_id ties
      SELECT vec_id AS pos_doc_id, CAST(embedding AS DOUBLE[]) AS pemb
      FROM embeddings
      ORDER BY round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            {sql_vec(QUERY_VEC)}), 6) DESC,
               vec_id
      LIMIT 1
    ),
    hardneg AS (
      SELECT b.doc_id, b.bm25_rank, b.bm25_score,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          p.pemb), 6) AS cos_pos,
             p.pos_doc_id
      FROM bm25 b
      JOIN embeddings e ON e.vec_id = b.doc_id
      CROSS JOIN hn_pos p
      WHERE b.bm25_rank <= 100
        AND b.doc_id <> p.pos_doc_id
        AND round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         p.pemb), 6) <= 0.95
      ORDER BY b.bm25_rank
      LIMIT 10
    ),
    {_mmr_ctes(sql_vec(QUERY_VEC))},
    {_XRANK_CTES}
    SELECT 'rrf' AS kind, doc_id, rrf_score, fused_rank,
           bm25_rank, cos_rank, bm25_score,
           CAST(NULL AS BIGINT) AS n_matches,
           CAST(NULL AS DOUBLE) AS cos_pos,
           CAST(NULL AS BIGINT) AS pos_doc_id,
           CAST(NULL AS DOUBLE) AS mmr_relevance,
           CAST(NULL AS DOUBLE) AS mmr_redundancy,
           CAST(NULL AS DOUBLE) AS mmr_score,
           CAST(NULL AS BIGINT) AS mmr_rank,
           CAST(NULL AS DOUBLE) AS ce_score,
           CAST(NULL AS BIGINT) AS ce_rank
    FROM (
      SELECT doc_id, round(rrf, 6) AS rrf_score,
             row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank,
             bm25_rank, cos_rank, bm25_score
      FROM fused
      QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 20
    )
    UNION ALL
    SELECT 'phrase' AS kind, doc_id,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS BIGINT) AS fused_rank,
           CAST(NULL AS BIGINT) AS bm25_rank,
           CAST(NULL AS BIGINT) AS cos_rank,
           CAST(NULL AS DOUBLE) AS bm25_score,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(NULL AS DOUBLE) AS cos_pos,
           CAST(NULL AS BIGINT) AS pos_doc_id,
           CAST(NULL AS DOUBLE) AS mmr_relevance,
           CAST(NULL AS DOUBLE) AS mmr_redundancy,
           CAST(NULL AS DOUBLE) AS mmr_score,
           CAST(NULL AS BIGINT) AS mmr_rank,
           CAST(NULL AS DOUBLE) AS ce_score,
           CAST(NULL AS BIGINT) AS ce_rank
    FROM pstarts GROUP BY doc_id
    UNION ALL
    SELECT 'hardneg' AS kind, doc_id,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS BIGINT) AS fused_rank,
           bm25_rank,
           CAST(NULL AS BIGINT) AS cos_rank,
           bm25_score,
           CAST(NULL AS BIGINT) AS n_matches,
           cos_pos, pos_doc_id,
           CAST(NULL AS DOUBLE) AS mmr_relevance,
           CAST(NULL AS DOUBLE) AS mmr_redundancy,
           CAST(NULL AS DOUBLE) AS mmr_score,
           CAST(NULL AS BIGINT) AS mmr_rank,
           CAST(NULL AS DOUBLE) AS ce_score,
           CAST(NULL AS BIGINT) AS ce_rank
    FROM hardneg
    UNION ALL
    SELECT 'mmr' AS kind, doc_id,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS BIGINT) AS fused_rank,
           CAST(NULL AS BIGINT) AS bm25_rank,
           CAST(NULL AS BIGINT) AS cos_rank,
           CAST(NULL AS DOUBLE) AS bm25_score,
           CAST(NULL AS BIGINT) AS n_matches,
           CAST(NULL AS DOUBLE) AS cos_pos,
           CAST(NULL AS BIGINT) AS pos_doc_id,
           rel AS mmr_relevance,
           red AS mmr_redundancy,
           score AS mmr_score,
           CAST(mmr_rank AS BIGINT) AS mmr_rank,
           CAST(NULL AS DOUBLE) AS ce_score,
           CAST(NULL AS BIGINT) AS ce_rank
    FROM m_out
    UNION ALL
    SELECT 'xrank' AS kind, doc_id,
           CAST(NULL AS DOUBLE) AS rrf_score,
           CAST(NULL AS BIGINT) AS fused_rank,
           CAST(NULL AS BIGINT) AS bm25_rank,
           CAST(NULL AS BIGINT) AS cos_rank,
           CAST(NULL AS DOUBLE) AS bm25_score,
           CAST(NULL AS BIGINT) AS n_matches,
           CAST(NULL AS DOUBLE) AS cos_pos,
           CAST(NULL AS BIGINT) AS pos_doc_id,
           CAST(NULL AS DOUBLE) AS mmr_relevance,
           CAST(NULL AS DOUBLE) AS mmr_redundancy,
           CAST(NULL AS DOUBLE) AS mmr_score,
           CAST(NULL AS BIGINT) AS mmr_rank,
           ce_score,
           CAST(ce_rank AS BIGINT) AS ce_rank
    FROM xr_top
    """,
    survey_rows="X4 (BM25 lexical ranking, scores exposed) + Q1 fusion "
    "(hybrid lexical+vector retrieval), A4 + exact-phrase search over a "
    "positional inverted index (term order + adjacency) + DPR-style "
    "hard-negative mining (BM25 candidates, positive-similarity guard, "
    "lexically-hardest cut) for contrastive training pairs + round-8 "
    "backfill arms: MMR diversification (greedy λ-tradeoff, the k picks "
    "unrolled by the oracle — rel/red/score and selection order certified "
    "value for value) and cross-encoder re-rank (fake tier, md5-derived "
    "pair scores DuckDB recomputes bit for bit)",
)
def q49_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import mine_hard_negatives, phrase_match_counts

    docs = load(spark, sf_dir, "documents")
    # FOUR consumers (rrf fusion, score exposure, hard-negative mining,
    # cross-encoder re-rank) share the BM25 subtree. Round-13 measurement
    # (guide §1/§2.4): the lazy plan re-executed it per consumer — the
    # executed plan showed 29 parquet scans and only 4 ReusedExchange out
    # of 43 (AQE reuse misses the copies because each consumer prunes
    # different columns, so the exchanges are not canonically identical).
    # Evaluate it ONCE into a k-row local frame instead (guide §8:
    # decisions on small rows, the corpus scanned once): ≤100 rows by
    # construction, so the collect is driver-safe, and every consumer now
    # broadcast-joins the tiny side — three whole corpus-sized BM25
    # re-executions (tokenize+explode+2 aggregates each) leave the plan.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..session import collect_bounded, local_df

    bm25_plan = bm25_rank(docs, BM25_TERMS, k=100)
    emb = load(spark, sf_dir, "embeddings")
    # ONE emb pass serves three arms (same guide-§8 move): the cosine
    # top-100 — ranked by (round(cos,6) DESC, doc_id ASC), a total order
    # — collected WITH embeddings is simultaneously (a) cos_top for the
    # fusion (rank = position in the sorted collect ≡ the old
    # row_number over the identical ordering), (b) the MMR candidate
    # list (its old plan was the same orderBy/limit cut at _MMR_N ≤
    # 100), and (c) the hard-negative positive (the old hn_pos plan was
    # the same ordering at LIMIT 1). The two plan-time collects (docs
    # pass for BM25, emb pass for cosine) run CONCURRENTLY (guide §2.6 —
    # independent jobs back-fill each other's stragglers).
    cos_plan = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            F.round(
                # array_lit (round-8 literal hygiene): the query vector
                # rides as ONE constant-folded Literal
                cosine_similarity("embedding", array_lit(QUERY_VEC)),
                6,
            ).alias("_c"),
        )
        .orderBy(F.desc("_c"), F.asc("doc_id"))
        .limit(100)
    )
    with ThreadPoolExecutor(2) as _pool:
        _bm25_fut = _pool.submit(
            collect_bounded, bm25_plan, 100, "q49 bm25 top"
        )
        cos_rows = collect_bounded(cos_plan, 100, "q49 cosine top")
        bm25_rows = _bm25_fut.result()
    bm25_top = local_df(spark, bm25_rows, bm25_plan.schema)
    cos_top = local_df(
        spark,
        [(r["doc_id"], i + 1) for i, r in enumerate(cos_rows)],
        StructType(
            [cos_plan.schema["doc_id"], StructField("cos_rank", IntegerType())]
        ),
    )
    fused = rrf_fuse(bm25_top, cos_top, k=20)
    # expose the BM25 scores themselves (the lexical-ranker value contract,
    # not just its ordering); -1.0 marks cos-only docs on both sides.
    rrf = fused.join(
        F.broadcast(bm25_top.select("doc_id", "bm25_score")), "doc_id", "left"
    ).withColumn("bm25_score", F.coalesce("bm25_score", F.lit(-1.0)))
    # the six round-8 columns (mmr/xrank arms) as typed NULLs, appended
    # uniformly to every arm via allowMissingColumns below
    rrf = rrf.select(
        F.lit("rrf").alias("kind"),
        *[F.col(c) for c in rrf.columns],
        F.lit(None).cast("bigint").alias("n_matches"),
        F.lit(None).cast("double").alias("cos_pos"),
        F.lit(None).cast("bigint").alias("pos_doc_id"),
    )
    phrase = phrase_match_counts(docs, list(PHRASE)).select(
        F.lit("phrase").alias("kind"),
        "doc_id",
        F.lit(None).cast("double").alias("rrf_score"),
        F.lit(None).cast("bigint").alias("fused_rank"),
        F.lit(None).cast("bigint").alias("bm25_rank"),
        F.lit(None).cast("bigint").alias("cos_rank"),
        F.lit(None).cast("double").alias("bm25_score"),
        F.col("n_matches"),
        F.lit(None).cast("double").alias("cos_pos"),
        F.lit(None).cast("bigint").alias("pos_doc_id"),
    )
    # the positive is the cosine top-1 — the head of the SAME collected
    # ordering (round-13: saves mine_hard_negatives' own emb
    # TakeOrderedAndProject pass; empty-corpus falls back to the
    # operator's in-plan selection)
    pos_local = (
        local_df(
            spark,
            [(cos_rows[0]["doc_id"], cos_rows[0]["embedding"])],
            StructType(
                [
                    StructField(
                        "pos_doc_id", cos_plan.schema["doc_id"].dataType
                    ),
                    StructField(
                        "_pos_emb", cos_plan.schema["embedding"].dataType
                    ),
                ]
            ),
        )
        if cos_rows
        else None
    )
    hardneg = mine_hard_negatives(
        docs, emb, BM25_TERMS, QUERY_VEC, k_neg=10, n_candidates=100,
        bm25=bm25_top, pos=pos_local,
    ).select(
        F.lit("hardneg").alias("kind"),
        "doc_id",
        F.lit(None).cast("double").alias("rrf_score"),
        F.lit(None).cast("bigint").alias("fused_rank"),
        "bm25_rank",
        F.lit(None).cast("bigint").alias("cos_rank"),
        "bm25_score",
        F.lit(None).cast("bigint").alias("n_matches"),
        "cos_pos",
        "pos_doc_id",
    )
    # round-8 backfill arms: MMR diversification over the top-20 cosine
    # candidates (greedy selection runs driver-side over the bounded
    # list — mmr_rerank's contract) and the fake-tier cross-encoder
    # re-rank over the shared BM25 candidate list (one Arrow batch).
    from ..operators.retrieval import cross_encoder_rerank, mmr_rerank

    # MMR candidates = the first _MMR_N of the SAME collected cosine
    # ordering (its old plan was the identical orderBy/limit over emb —
    # round-13: the second emb scan leaves the query; mmr_rerank's own
    # bounded collect now reads a 20-row local relation)
    mmr_cand = local_df(
        spark,
        [(r["doc_id"], r["embedding"]) for r in cos_rows[:_MMR_N]],
        StructType(
            [cos_plan.schema["doc_id"], cos_plan.schema["embedding"]]
        ),
    )
    mmr = mmr_rerank(
        mmr_cand, QUERY_VEC, k=_MMR_K, lam=_MMR_LAM,
        id_col="doc_id", vec_col="embedding",
    ).select(
        F.lit("mmr").alias("kind"),
        "doc_id",
        F.col("relevance").alias("mmr_relevance"),
        F.col("redundancy").alias("mmr_redundancy"),
        F.col("mmr_score"),
        F.col("mmr_rank").cast("bigint").alias("mmr_rank"),
    )
    xrank = cross_encoder_rerank(
        bm25_top.select("doc_id").join(docs.select("doc_id", "text"), "doc_id"),
        _XRANK_QUERY,
        k=_XRANK_K,
    ).select(
        F.lit("xrank").alias("kind"),
        "doc_id",
        "ce_score",
        F.col("ce_rank").cast("bigint").alias("ce_rank"),
    )
    out = rrf.unionByName(phrase).unionByName(hardneg)
    return out.unionByName(mmr, allowMissingColumns=True).unionByName(
        xrank, allowMissingColumns=True
    )


# Content-addressed sampling pack in ONE per-doc frame: the md5-bucket
# train/val/test split AND the deterministic stratified language sample
# (en downsampled to 25%, tail kept at 60%). Both are narrow per-row
# bucket computations — zero shuffles at any corpus size; re-runs,
# re-shards, and cluster-size changes never move a document.


# --- q50 'tmix' arm (round-8 backfill: temperature_mix was U-only) --------
#
# Temperature-based source mixing over a SKEWED derived domain (tiny/mid/
# big by doc_id range — the natural sources are balanced, which never
# exercises water-filling): per-domain token totals → w^alpha shares →
# caps at 1.0 with the shortfall water-filled over uncapped domains →
# 16-bit content-addressed membership. The oracle unrolls the (≤ k-round)
# water-filling loop as CTEs — st_i/bud_i mirror temperature_fractions'
# loop state EXACTLY: the weight sum folds in sorted-source order from
# 0.0 (the operator accumulates the same way — round-8 determinism fix),
# budget stays integer-valued (exact in a double), and pow(n, 0.5) is
# correctly rounded in both engines' libm. Four unrolled rounds cover
# k=3 domains; settled rounds are no-ops by construction (no new caps →
# same weight set → same fractions).
# Known residual: Python's int(round(frac*65536)) is half-EVEN, DuckDB's
# CAST is half-away — they differ only on an EXACT .5 tie, which for a
# water-filled quotient is a measure-zero double (capped fracs are
# exactly 1.0 → no tie); recorded, not designed out, because the
# threshold formula is with_sample_flag's certified contract.
_TMIX_ALPHA, _TMIX_TARGET = 0.5, 20000
_TMIX_SRC = "CASE WHEN doc_id < 10 THEN 'tiny' WHEN doc_id < 100 THEN 'mid' ELSE 'big' END"


def _tmix_ctes(rounds: int = 4) -> str:
    parts = [f"""
    tm_cnt AS (
      SELECT {_TMIX_SRC} AS msrc,
             CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n
      FROM documents GROUP BY 1
    ),
    tm_st0 AS (SELECT msrc, n, FALSE AS capped FROM tm_cnt),
    tm_bud0 AS (SELECT CAST({_TMIX_TARGET} AS DOUBLE) AS budget)"""]
    prev, prevb = "tm_st0", "tm_bud0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    tm_ws{i} AS (
      SELECT COALESCE(list_reduce(list_prepend(0.0e0,
               list(pow(CAST(n AS DOUBLE), {_TMIX_ALPHA}) ORDER BY msrc)
                 FILTER (WHERE NOT capped)),
               (acc, t) -> acc + t), 0.0e0) AS ws
      FROM {prev}
    ),
    tm_st{i} AS (
      SELECT s.msrc, s.n,
             CASE WHEN s.capped THEN TRUE
                  WHEN w.ws > 0 THEN b.budget * pow(CAST(s.n AS DOUBLE), {_TMIX_ALPHA}) / w.ws >= s.n
                  ELSE FALSE END AS capped
      FROM {prev} s CROSS JOIN {prevb} b CROSS JOIN tm_ws{i} w
    ),
    tm_bud{i} AS (
      SELECT b.budget - COALESCE((
        SELECT CAST(sum(s1.n) AS DOUBLE) FROM tm_st{i} s1 JOIN {prev} s0 USING (msrc)
        WHERE s1.capped AND NOT s0.capped), 0.0e0) AS budget
      FROM {prevb} b
    )""")
        prev, prevb = f"tm_st{i}", f"tm_bud{i}"
    parts.append(f"""
    tm_wsF AS (
      SELECT COALESCE(list_reduce(list_prepend(0.0e0,
               list(pow(CAST(n AS DOUBLE), {_TMIX_ALPHA}) ORDER BY msrc)
                 FILTER (WHERE NOT capped)),
               (acc, t) -> acc + t), 0.0e0) AS ws
      FROM {prev}
    ),
    tm_cut AS (
      SELECT s.msrc,
             CAST(CASE WHEN s.capped THEN 65536.0
                  WHEN w.ws > 0 THEN (b.budget * pow(CAST(s.n AS DOUBLE), {_TMIX_ALPHA}) / w.ws) / s.n * 65536.0
                  ELSE 0.0 END AS BIGINT) AS cut
      FROM {prev} s CROSS JOIN {prevb} b CROSS JOIN tm_wsF w
    )""")
    return ",".join(parts)


_DSIR_CTES = """
    dsir_tok AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    dsir_gram AS (
      SELECT doc_id, lang,
             unnest(list_concat(tk,
               CASE WHEN len(tk) >= 2
                    THEN [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]
                    ELSE CAST([] AS VARCHAR[]) END)) AS g
      FROM dsir_tok
    ),
    dsir_b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(g || '#dsir'), 1, 8)) AS BIGINT) % 256 AS b
      FROM dsir_gram
    ),
    dsir_cnt AS (
      SELECT b, count(*) AS c_all,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      FROM dsir_b GROUP BY b
    ),
    dsir_tot AS (SELECT sum(c_all) AS n_all, sum(c_t) AS n_t FROM dsir_cnt),
    dsir_lr AS (
      SELECT b,
             CAST(round((ln((c_t + 1.0) / (t.n_t + 256.0))
                       - ln((c_all + 1.0) / (t.n_all + 256.0))) * 1000000)
                  AS BIGINT) AS lr
      FROM dsir_cnt CROSS JOIN dsir_tot t
    ),
    dsir_w AS (
      SELECT db.doc_id, CAST(sum(lr.lr) AS BIGINT) AS logw
      FROM dsir_b db JOIN dsir_lr lr USING (b) GROUP BY db.doc_id
    )
"""


@register(
    "q50_split_and_sample",
    f"""
    WITH {_DSIR_CTES}, {_tmix_ctes()}, b AS (
      SELECT doc_id, lang, source,
             {_TMIX_SRC} AS mix_src,
             (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
             AS bucket,
             (((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16
              + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
             AS bucket16,
             GREATEST(length(text), 1) AS wlen
      FROM documents
    )
    SELECT doc_id, lang, source, bucket, bucket16,
           CASE WHEN bucket < 205 THEN 'train'
                WHEN bucket < 230 THEN 'val'
                ELSE 'test' END AS split,
           bucket16 < CASE lang WHEN 'en' THEN 16384 ELSE 39322 END AS in_sample,
           mix_src,
           bucket16 < tc.cut AS in_tmix,
           CAST(sh % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY sh % 8 ORDER BY sh, doc_id) - 1
                AS BIGINT) AS shard_pos,
           ROUND(pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wrs'), 1, 8))
                           AS BIGINT) + 0.5) / 4294967296.0,
                     1.0 / wlen), 6) AS wrs_key,
           CAST(row_number() OVER (
                  PARTITION BY source
                  ORDER BY ROUND(pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wrs'), 1, 8))
                                           AS BIGINT) + 0.5) / 4294967296.0,
                                 1.0 / wlen), 6) DESC, doc_id)
                AS BIGINT) AS wrs_rank_in_source,
           CAST(COALESCE(w.logw, 0) AS BIGINT) AS dsir_logw_micro,
           ROUND(COALESCE(w.logw, 0) / 1000000.0
                 - ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#dsirg'), 1, 8))
                                AS BIGINT) + 0.5) / 4294967296.0)), 6) AS dsir_key
    FROM (SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 8))
                         AS BIGINT) AS sh
          FROM b)
    LEFT JOIN dsir_w w USING (doc_id)
    JOIN tm_cut tc ON tc.msrc = mix_src
    """,
    survey_rows="X1/H1 analog — content-addressed train/val/test split + "
    "deterministic stratified sampling (language rebalancing) + "
    "reproducible global shuffle into training shards "
    "(deterministic_shuffle) + A-ES weighted-sample key (wrs_key: top-k "
    "by this column IS a length-proportional sample without replacement) "
    "+ DSIR importance weights (hashed uni+bigram log-ratio model fit on "
    "lang='en' as the target domain, integer micro-units, Gumbel top-k "
    "key — fit AND scoring certified value for value) + temperature_mix "
    "(round-8 backfill, previously U-only: w^0.5 source reweighting with "
    "water-filled caps over a skewed derived domain, the ≤k-round "
    "water-filling loop unrolled as CTEs and the membership threshold "
    "certified value for value)",
)
def q50_split_and_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import (
        deterministic_shuffle,
        temperature_mix,
        with_sample_flag,
        wrs_key,
    )
    from ..operators.dsir import dsir_fit, dsir_gumbel_key, dsir_logweight_micro

    raw = load(spark, sf_dir, "documents")
    # tmix arm (round-8 backfill): temperature-based mixing membership
    # over the skewed derived domain — one k-row count collect inside
    # temperature_mix (like dsir_fit's model collect below), then the
    # flag is a narrow per-row expression riding the same projection.
    raw = temperature_mix(
        raw.withColumn(
            "mix_src",
            F.when(F.col("doc_id") < 10, "tiny")
            .when(F.col("doc_id") < 100, "mid")
            .otherwise("big"),
        ),
        alpha=_TMIX_ALPHA,
        target_tokens=_TMIX_TARGET,
        group_col="mix_src",
        id_col="doc_id",
        text_col="text",
        flag_col="in_tmix",
    )
    # DSIR arm: fit the hashed uni+bigram importance model in ONE pass
    # (target domain = lang='en'); the model rides back as a packed
    # literal, so scoring below stays a narrow projection.
    ratios = dsir_fit(raw, F.col("lang") == "en")
    docs = raw.select(
        "doc_id",
        "lang",
        "source",
        "mix_src",
        "in_tmix",
        F.greatest(F.length("text"), F.lit(1)).alias("_wlen"),
        dsir_logweight_micro("text", ratios).alias("dsir_logw_micro"),
    )
    # membership as a COLUMN (with_sample_flag — the expression
    # stratified_sample filters on), never a join against the kept set:
    # the sample is fraction × corpus, so joining/broadcasting it is a
    # scale bug. Split/sample stay one narrow projection; the fused
    # deterministic_shuffle arm adds the ONE per-shard sort a training
    # writer needs (shard, shard_pos — reproducible permutation), and the
    # wrs_key arm certifies the A-ES weighted-sample key (u^(1/w), weight
    # = text length) — top-k by that column is weighted_sample().
    flagged = with_sample_flag(
        hash_split(docs),
        {"en": 0.25},
        group_col="lang",
        key_col="doc_id",
        default_fraction=0.6,
    )
    # Per-source weighted-sample rank: row_number over the (rounded,
    # engine-portable) A-ES key within each source — the top-k per group
    # IS a per-source weighted sample without replacement (balanced
    # eval-set construction). One window on the source key.
    wk = wrs_key("_wlen")
    w_src = Window.partitionBy("source").orderBy(wk.desc(), F.asc("doc_id"))
    return deterministic_shuffle(flagged, "doc_id", n_shards=8, seed=7).select(
        "doc_id", "lang", "source", "bucket", "bucket16", "split",
        "in_sample", "mix_src", "in_tmix", "shard", "shard_pos",
        wk.alias("wrs_key"),
        F.row_number().over(w_src).cast("bigint").alias("wrs_rank_in_source"),
        "dsir_logw_micro",
        dsir_gumbel_key("doc_id", F.col("dsir_logw_micro")).alias("dsir_key"),
    )


# LLM data-mixing pack in ONE per-doc frame: GPT-style sequence-packing
# coordinates (docs concatenated per source in id order, cut every 512
# tokens) AND the per-source token-budget selection (longest-first greedy
# under 2000 tokens). Each is a single running-total window per source —
# two orderings, so two window sorts over the same shuffle key.


@register(
    "q51_packing_and_budget",
    """
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY n_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    , lb AS (
      SELECT *,
             CAST(ntile(4) OVER (PARTITION BY source ORDER BY n_tokens, doc_id)
                  AS INT) AS len_bucket
      FROM c
    ),
    vocab AS (
      SELECT token, row_number() OVER (ORDER BY c DESC, token) AS vid
      FROM (
        SELECT token, count(*) AS c FROM (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ) WHERE token <> '' GROUP BY token HAVING count(*) >= 5
      )
    ),
    tok_sums AS (
      SELECT doc_id, CAST(sum(coalesce(v.vid, 0)) AS BIGINT) AS tok_id_sum
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) t LEFT JOIN vocab v USING (token)
      WHERE token <> ''
      GROUP BY doc_id
    )
    SELECT source, doc_id, n_tokens,
           cum_before // 512 AS seq_id,
           cum_before % 512 AS seq_offset,
           greatest(cum_before // 512, (cum_before + n_tokens - 1) // 512) AS seq_end,
           CASE WHEN cum_tokens <= 2000 THEN cum_tokens ELSE -1 END AS cum_tokens,
           cum_tokens <= 2000 AS in_budget,
           len_bucket,
           CAST((row_number() OVER (
                   PARTITION BY source, len_bucket
                   ORDER BY n_tokens, doc_id) - 1) // 8 AS BIGINT) AS infer_batch,
           coalesce(ts.tok_id_sum, 0) AS tok_id_sum
    FROM lb LEFT JOIN tok_sums ts USING (doc_id)
    """,
    survey_rows="N5 (running totals) → LLM sequence packing + "
    "X4/X1 token-budget corpus selection (data mixing) + length-bucketed "
    "inference batching (ntile length quartiles per source, fixed-size "
    "batch ids within each bucket — the padding-minimizing batch layout) "
    "+ the training-sample vocab-id lookup (tok_id_sum: per-doc sum of "
    "q55-vocab token ids, OOV→0 — the doc→token-ids mapping a sample "
    "emitter packs into sequences)",
)
def q51_packing_and_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import length_bucketed_batches
    from ..operators.textstats import build_vocab

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(docs, ctx_len=512)
    # Vocab-id arm: the doc → token-id mapping (q55's ranked vocab,
    # OOV→0) summed per doc — the lookup a training-sample emitter packs
    # into sequences. Vocab broadcasts; the token stream partial-
    # aggregates before its one doc_id shuffle.
    vocab = build_vocab(docs, "doc_id", "text", min_count=5)
    tok_sums = (
        docs.select(
            "doc_id",
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
                "token"
            ),
        )
        .join(F.broadcast(vocab.select("token", "vocab_id")), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("vocab_id"), F.lit(0)))
            .cast("bigint")
            .alias("tok_id_sum")
        )
    )
    budget = select_token_budget(
        docs, "source", "doc_id", "text", budget_tokens=2000
    ).select("doc_id", "cum_tokens", F.lit(True).alias("in_budget"))
    # broadcast is safe here BY CONSTRUCTION: the kept set is bounded by
    # budget_tokens per source (a constant), not by corpus size — unlike a
    # sampling fraction, which is why q50 computes membership as a column.
    joined = packed.join(F.broadcast(budget), "doc_id", "left").select(
        "source",
        "doc_id",
        "n_tokens",
        "seq_id",
        "seq_offset",
        "seq_end",
        F.coalesce("cum_tokens", F.lit(-1)).alias("cum_tokens"),
        F.coalesce("in_budget", F.lit(False)).alias("in_budget"),
    )
    # Length-bucketed inference batching rides the same source-keyed
    # shuffle as the packing windows.
    batched = length_bucketed_batches(
        joined, group_col="source", id_col="doc_id", n_tokens_col="n_tokens"
    )
    return batched.join(tok_sums, "doc_id", "left").withColumn(
        "tok_id_sum", F.coalesce("tok_id_sum", F.lit(0)).cast("bigint")
    )


# Two decontamination arms in one tagged union (one driver row carries both
# contracts): 'ngram' = exact 8-gram overlap vs the benchmark split of the
# documents table; 'semantic' = embedding-cosine leakage vs a benchmark
# vector set (the planted-twin corpus from the dedup pack: perturbed copies
# of the first 200 embeddings stand in for paraphrased benchmark rows that
# share no 8-gram — exactly what the n-gram pass cannot catch).


@register(
    "q52_decontamination",
    """
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    dense AS (
      SELECT doc_id, token,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS dpos
      FROM tok
    ),
    sh AS (
      SELECT DISTINCT doc_id, md5(string_agg(token, ' ' ORDER BY dpos2)) AS h
      FROM (
        SELECT a.doc_id, a.dpos AS g0, b.dpos AS dpos2, b.token
        FROM dense a JOIN dense b
          ON a.doc_id = b.doc_id AND b.dpos BETWEEN a.dpos AND a.dpos + 7
      )
      GROUP BY doc_id, g0 HAVING count(*) = 8
    ),
    vbase AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id < 200
    ),
    vpert AS (
      SELECT vec_id + 100000 AS vec_id, label,
             list_transform(emb, (x, i) -> CASE WHEN i = 1 THEN x + 0.05 ELSE x END) AS emb
      FROM vbase
    )
    SELECT 'ngram' AS kind, c.doc_id, b.doc_id AS bench_id,
           CAST(count(DISTINCT c.h) AS DOUBLE) AS score
    FROM (SELECT * FROM sh WHERE doc_id % 50 <> 0) c
    JOIN (SELECT * FROM sh WHERE doc_id % 50 = 0) b ON c.h = b.h
    GROUP BY c.doc_id, b.doc_id
    UNION ALL
    SELECT * FROM (
      SELECT 'semantic' AS kind, c.vec_id AS doc_id, b.vec_id AS bench_id,
             round(list_cosine_similarity(c.emb, b.emb), 6) AS score
      FROM vpert c JOIN vbase b USING (label)
    ) WHERE score >= 0.99
    """,
    survey_rows=(
        "X2 (n-gram overlap) + X2/X3 (embedding cosine) → benchmark "
        "decontamination, lexical + semantic arms"
    ),
)
def q52_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Shingling the corpus side is the CPU-heavy stage and the test-scale
    # file is one parquet partition — rebalance so it parallelizes (at
    # production scale the scan is already wide; see q28 for the pattern).
    corpus = docs.filter(F.col("doc_id") % 50 != 0).repartition(
        spark.sparkContext.defaultParallelism
    )
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    ngram = decontaminate(corpus, benchmark, n=8, min_shared=1).select(
        F.lit("ngram").alias("kind"),
        "doc_id",
        "bench_id",
        F.col("n_shared").cast("double").alias("score"),
    )

    base = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    )
    pert = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "label",
        F.transform("emb", lambda x, i: F.when(i == 0, x + 0.05).otherwise(x)).alias(
            "emb"
        ),
    )
    semantic = semantic_decontaminate(
        pert, base, min_cosine=0.99, id_col="vec_id", vec_col="emb", block_col="label"
    ).select(
        F.lit("semantic").alias("kind"),
        F.col("corpus_id").alias("doc_id"),
        "bench_id",
        F.col("cosine").alias("score"),
    )
    return ngram.unionByName(semantic)


# ---------------------------------------------------------------------------
# PII scrubbing (q54): plant one deterministic PII artifact per document
# (kind cycles with doc_id % 4), scrub with the staged regex pipeline, and
# value-compare the FULL scrubbed string plus per-kind counts — the
# strongest possible cross-engine contract on regex semantics. The planted
# corpus is identical in both engines (pure doc_id arithmetic, no RNG).

_PII_ORACLE = """
    WITH p AS (
      SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN ' Contact user' || doc_id || '@example.org now.'
        WHEN 1 THEN ' Logged in from 10.2.' || (doc_id % 256) || '.7 at night.'
        WHEN 2 THEN ' Reach me at +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' 2345.'
        ELSE ' Record 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' closed.'
      END AS t
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
      FROM p
    ),
    s2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssn,
             regexp_replace(t, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_ssn,
             len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ipv4,
             regexp_replace(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS t
      FROM s2
    )
    SELECT doc_id, n_email, n_ssn, n_ipv4,
           len(regexp_extract_all(t, '\\+[0-9](?:[ -]?[0-9]){6,}')) AS n_phone,
           regexp_replace(t, '\\+[0-9](?:[ -]?[0-9]){6,}', '<PHONE>', 'g') AS clean_text
    FROM s3
"""


@register(
    "q54_pii_scrub",
    _PII_ORACLE,
    survey_rows="X4 (PII redaction — staged regex scrub, narrow/zero-shuffle)",
)
def q54_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plant = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" Contact user"), F.col("doc_id").cast("string"), F.lit("@example.org now.")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(" Logged in from 10.2."), (F.col("doc_id") % 256).cast("string"), F.lit(".7 at night.")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" Reach me at +1 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit(" 2345."),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" Record 123-45-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" closed."),
            )
        ),
    )
    planted = docs.select("doc_id", plant.alias("text"))
    return scrub_pii(planted, "text", "clean_text").select(
        "doc_id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_ssn").cast("bigint").alias("n_ssn"),
        F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        "clean_text",
    )


# ---------------------------------------------------------------------------
# Vocabulary build (q55), TF-IDF top terms (q56), token-budget selection
# (q57) — the tokenizer-prep / lexical-signal / data-mixing trio.

_BPE_MERGES = 12

# the vocabulary CTEs — shared verbatim by the q55 registry oracle and
# the demoted BPE-training replay (tests/test_bpe.py)
_Q55_VOCAB_CTES = """tok AS (
      SELECT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE token <> ''
    ),
    counts AS (
      SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
      FROM tok GROUP BY token
    ),
    vocab AS (SELECT * FROM counts WHERE n_occurrences >= 5)"""


def _q55_bpe_parity_oracle(n_merges: int = _BPE_MERGES) -> str:
    """The DEMOTED q55 'bpe' arm (oracle-tower amortization policy,
    round 7; driver-green r5+r6): a FULL SQL replay of BPE training over
    the q55 vocabulary — the n_merges iterations unrolled as
    MATERIALIZED CTEs (the q38 Lloyd-unroll precedent; MATERIALIZED is
    load-bearing: each iteration references the previous symbol table
    several times, and inlining would double the tree per round — the
    same 2^n blowup pagerank's lineage truncation guards against).
    Its DuckDB value parity now runs as pytest
    (tests/test_bpe.py::test_bpe_train_duckdb_parity_demoted) over this
    SAME CTE text; the bench number stays as the x_bpe_train extras
    entry.

    Per iteration over the symbol table s{{i}}(wid, cnt, pos, sym):
    pair counts (self-join on pos+1, count-weighted) → argmax with the
    (count DESC, a, b) tiebreak (b{{i}}) → greedy non-overlapping match
    set (m{{i}}): for a ≠ b adjacent matches can never overlap (an
    overlap at i, i+1 would force a = b), and for a = b matches form
    runs, where the paper's left-to-right scan keeps the 1st, 3rd, …
    of each run — the islands-and-parity window below, equivalent to
    operators/bpe.apply_merge's sequential fold (test-pinned there,
    value-matched here) — then rebuild (s{{i+1}}): matched positions
    take the merged symbol, consumed positions (pos−1 matched) drop,
    positions renumber."""
    parts = [
        _Q55_VOCAB_CTES
        + """,
    s0 AS MATERIALIZED (
      SELECT token AS wid, n_occurrences AS cnt,
             generate_subscripts(syms, 1) AS pos, unnest(syms) AS sym
      FROM (SELECT token, n_occurrences,
                   list_append(string_split(token, ''), '</w>') AS syms
            FROM vocab)
    )"""
    ]
    for i in range(n_merges):
        parts.append(f"""p{i} AS MATERIALIZED (
      SELECT l.sym AS a, r.sym AS b, sum(l.cnt) AS pc
      FROM s{i} l JOIN s{i} r ON r.wid = l.wid AND r.pos = l.pos + 1
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b FROM p{i} ORDER BY pc DESC, a, b LIMIT 1
    ),
    m{i} AS MATERIALIZED (
      SELECT wid, pos FROM (
        SELECT wid, pos,
               row_number() OVER (PARTITION BY wid, island ORDER BY pos) AS rnk
        FROM (
          SELECT l.wid, l.pos,
                 l.pos - row_number() OVER (PARTITION BY l.wid ORDER BY l.pos)
                   AS island
          FROM s{i} l
          JOIN s{i} r ON r.wid = l.wid AND r.pos = l.pos + 1
          CROSS JOIN b{i}
          WHERE l.sym = b{i}.a AND r.sym = b{i}.b
        )
      ) WHERE rnk % 2 = 1
    ),
    s{i + 1} AS MATERIALIZED (
      SELECT wid, cnt,
             row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos, sym
      FROM (
        SELECT s.wid, s.cnt, s.pos,
               CASE WHEN m.pos IS NOT NULL THEN (SELECT a || b FROM b{i})
                    ELSE s.sym END AS sym
        FROM s{i} s
        LEFT JOIN m{i} m ON m.wid = s.wid AND m.pos = s.pos
        WHERE NOT EXISTS (SELECT 1 FROM m{i} c
                          WHERE c.wid = s.wid AND c.pos = s.pos - 1)
      )
    )""")
    bpe_union = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({i} AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym
    FROM b{i}"""
        for i in range(n_merges)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + bpe_union


@register(
    "q55_vocab_build",
    f"""
    WITH {_Q55_VOCAB_CTES}
    SELECT token, n_occurrences, n_docs,
           row_number() OVER (ORDER BY n_occurrences DESC, token) AS vocab_id
    FROM vocab
    """,
    survey_rows="X4 (vocabulary build — tokenizer-training prep). The BPE "
    "merge-table arm (operators/bpe.bpe_train, 12 sequential argmax "
    "actions) was DEMOTED from this row's driver replay after two green "
    "rounds (the oracle-tower amortization policy, the q28 Gopher "
    "precedent): its merge-for-merge DuckDB parity now runs as pytest "
    "(tests/test_bpe.py::test_bpe_train_duckdb_parity_demoted) over the "
    "SAME unrolled-CTE text, and x_bpe_train keeps the bench number",
)
def q55_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "doc_id", "text", min_count=5)
    return vocab.select(
        "token",
        "n_occurrences",
        "n_docs",
        F.col("vocab_id").cast("bigint").alias("vocab_id"),
    )


@register(
    "q56_tfidf_terms",
    """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    tok AS (
      SELECT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus
      ) WHERE token <> ''
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM corpus)
    SELECT doc_id, token, tf, df, tfidf, term_rank FROM (
      SELECT t.doc_id, t.token, t.tf, d.df,
             round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1)) + 1), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * (ln((n.n_docs + 1.0) / (d.df + 1)) + 1) DESC, t.token
             ) AS term_rank
      FROM tf t JOIN dfreq d ON d.token = t.token CROSS JOIN n
    ) WHERE term_rank <= 5
    """,
    survey_rows="X4 (TF-IDF — lexical relevance / sparse blocking signal)",
)
def q56_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    out = tfidf_top_terms(docs, "doc_id", "text", top_n=5)
    return out.select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round("tfidf", 6).alias("tfidf"),
        F.col("term_rank").cast("bigint").alias("term_rank"),
    )


