"""Lexical + hybrid retrieval (X4 text analysis / Q1 generalization).

The reference is embedding-only (cosine over doc vectors,
``/root/reference/src/backend/database/qdrant.py:201-205``). Production
search over the same corpus pairs that with a lexical ranker and fuses the
two rankings — the standard hybrid-retrieval upgrade. Both stages are pure
Catalyst plans:

- ``bm25_rank`` — Okapi BM25 (Lucene variant) as an inverted aggregation:
  explode tokens once, keep only query terms (broadcast join), tf via one
  hash aggregate on (doc, term), df + corpus stats as tiny broadcast
  aggregates. No UDF, no driver loop; the token explode is narrow and the
  only wide ops are two hash aggregates keyed by doc.

- ``rrf_fuse`` — reciprocal-rank fusion of two rankings:
  ``score = Σ 1/(k + rank_i)`` with the missing-list term dropped
  (full-outer join + coalesce). Rank-based, so float noise in the
  component scores can't leak in: integer ranks are exact in both
  engines.

- ``mmr_rerank`` — maximal-marginal-relevance diversification of a top-N
  candidate list (Carbonell & Goldstein, SIGIR'98): greedily pick the item
  maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)``. The reference
  returns Qdrant's raw ranking, which for a near-duplicated corpus fills
  the page with copies of one hit; MMR is the standard fix.

At 100 TB: BM25's cost profile is identical to the exact-dedup pass (one
explode + keyed aggregates); term df/idf stats are per-term rows (tiny);
rankings to fuse are top-N (broadcastable). MMR's greedy loop is
inherently sequential, so it runs driver-side over the COLLECTED candidate
list — bounded at top-N rows by contract (the distributed part is the
TakeOrderedAndProject that produced the candidates), the same k-sized
driver round-trip rule as the PQ LUTs and planner probes.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .curation import _tokens
from ..functions.vector import array_lit
from ..session import local_df


def bm25_rank(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by Okapi BM25 for a bag of query ``terms``.

    Returns (doc_id, bm25_score rounded to 6, bm25_rank). Ranking is by
    the ROUNDED score with id tiebreak, so the order is reproducible
    across engines despite summation-order float noise.

    A repeated query term contributes its saturation term once per
    occurrence (the standard qtf weighting). Deduplicating BEFORE the
    token join matters: duplicate rows in the term frame would duplicate
    the join output and double tf INSIDE the saturation — a score that is
    neither qtf-weighted nor dedup'd.
    """
    from collections import Counter

    spark = docs.sparkSession
    toks = _tokens(text_col)
    base = docs.select(F.col(id_col), toks.alias("_toks")).select(
        id_col, F.col("_toks"), F.size("_toks").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    term_df = local_df(spark, 
        list(Counter(terms).items()), "term string, qtf int"
    )
    tok = base.select(id_col, "dl", F.explode("_toks").alias("token")).join(
        F.broadcast(term_df), F.col("token") == F.col("term"), "inner"
    )
    tf = tok.groupBy(id_col, "dl", "term", "qtf").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "_s",
            F.col("qtf")
            * F.col("_idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    doc_scores = scored.groupBy(id_col).agg(
        F.round(F.sum("_s"), 6).alias("bm25_score")
    )
    # Top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort), THEN a rank window over just k rows — a
    # global row_number over all scored docs would funnel the corpus
    # through one partition.
    top = doc_scores.orderBy(F.desc("bm25_score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25_score"), F.asc(id_col))
    return top.withColumn("bm25_rank", F.row_number().over(w)).select(
        id_col, "bm25_score", "bm25_rank"
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_a: str = "bm25_rank",
    rank_b: str = "cos_rank",
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two top-N lists.

    ``score(d) = Σ_lists 1/(rrf_k + rank_list(d))``, absent-from-list
    contributes 0 (full outer join). Returns top-k by fused score
    (id tiebreak): (doc_id, rrf_score rounded to 6, rank_a, rank_b).
    """
    a = ranked_a.select(F.col(id_col).alias("_ida"), rank_a)
    bdf = ranked_b.select(F.col(id_col).alias("_idb"), rank_b)
    fused = (
        a.join(bdf, a["_ida"] == bdf["_idb"], "full_outer")
        .select(
            F.coalesce("_ida", "_idb").alias(id_col),
            F.col(rank_a),
            F.col(rank_b),
            (
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col(rank_a)), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col(rank_b)), F.lit(0.0))
            ).alias("_rrf"),
        )
    )
    w = Window.orderBy(F.desc("_rrf"), F.asc(id_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select(
            id_col,
            F.round("_rrf", 6).alias("rrf_score"),
            "fused_rank",
            rank_a,
            rank_b,
        )
    )


def phrase_match_counts(
    docs: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-phrase search over a positional inverted index — the query
    class BM25's bag-of-words cannot express (term ORDER and adjacency).

    Classic positional-index join, one Spark plan: posexplode tokens →
    keep phrase terms (broadcast join on the tiny (term, offset) query
    frame — a term repeated in the phrase contributes one row per
    offset) → each hit votes for anchor = pos − offset → a phrase starts
    at an anchor iff ALL ``len(phrase)`` offsets voted there
    (count-distinct per (doc, anchor)). Returns (id_col, n_matches > 0).

    At 100 TB the explode is narrow and the only wide ops are the two
    keyed aggregates; the token→term join hits a broadcast list of
    phrase length. With the positional index materialized at rest
    (doc, pos, token, bucketed by token), the same query becomes a probe
    of just the phrase's term rows — cost bounded by posting-list sizes,
    never the corpus."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    spark = docs.sparkSession
    qdf = local_df(spark, 
        [(t, i) for i, t in enumerate(phrase)], "term string, off int"
    )
    toks = docs.select(
        F.col(id_col),
        F.posexplode(_tokens(text_col)).alias(
            "pos", "token"
        ),
    )
    hits = toks.join(F.broadcast(qdf), F.col("token") == F.col("term")).select(
        id_col, (F.col("pos") - F.col("off")).alias("anchor"), "off"
    )
    starts = (
        hits.filter(F.col("anchor") >= 0)
        .groupBy(id_col, "anchor")
        .agg(F.countDistinct("off").alias("n_off"))
        .filter(F.col("n_off") == len(phrase))
    )
    return starts.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def mmr_rerank(
    candidates: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "doc_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank of a top-N candidate list.

    ``candidates`` must be a BOUNDED frame (top-N from ``top_k`` /
    ``ann.brute_force_topk`` — N small by contract); it is collected and the
    greedy selection runs driver-side, because each pick depends on the
    set selected so far (no distributed formulation avoids that chain).

    Selection: seed with the most query-relevant item, then repeatedly add
    ``argmax_d λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)``. ``λ=1`` degenerates
    to relevance order (test-pinned against ``top_k``); smaller λ trades
    relevance for diversity. Scores are rounded to 6 before comparison
    with id-ascending tie-break, so the ordering is float-noise-proof and
    reproducible across runs.

    Returns (id_col, mmr_rank, relevance, redundancy, mmr_score) — one row
    per selected item, in selection order.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    id_type = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, mmr_rank int, relevance double, "
        "redundancy double, mmr_score double"
    )
    from ..session import collect_bounded

    # the candidate side is a top-N by construction; the guard keeps a
    # future caller from feeding a corpus into the O(k·n) driver greedy
    rows = collect_bounded(
        candidates.select(id_col, vec_col), 100_000, "mmr candidates"
    )
    if not rows:
        return local_df(candidates.sparkSession, [], out_schema)

    def _unit(v: list[float]) -> list[float]:
        n = sum(x * x for x in v) ** 0.5 or 1.0
        return [x / n for x in v]

    q = _unit([float(x) for x in query_vec])
    ids = [r[id_col] for r in rows]
    # NULL embeddings (or null components) reach the collected list when
    # the corpus is smaller than N — a bare TypeError from float(None)
    # is exactly the opaque crash the fail-loudly rule exists to prevent
    # (round-8 verdict; pca_fit's named NULL error is the template)
    for r in rows:
        v = r[vec_col]
        if v is None or any(x is None for x in v):
            raise ValueError(
                f"mmr_rerank: candidate {id_col}={r[id_col]!r} has a "
                f"NULL {vec_col!r} (or a null component) — drop or "
                "impute degenerate vectors before reranking "
                f"(.filter(F.col({vec_col!r}).isNotNull()) upstream)"
            )
    vecs = [_unit([float(x) for x in r[vec_col]]) for r in rows]
    rel = [round(sum(a * b for a, b in zip(q, v)), 6) for v in vecs]

    remaining = list(range(len(ids)))
    selected: list[tuple[int, float, float]] = []  # (idx, redundancy, mmr)
    while remaining and len(selected) < k:
        best_i, best_red, best_score = None, 0.0, None
        for i in remaining:
            red = max(
                (
                    round(sum(a * b for a, b in zip(vecs[i], vecs[j])), 6)
                    for j, _, _ in selected
                ),
                default=0.0,
            )
            score = round(lam * rel[i] - (1.0 - lam) * red, 6)
            # higher score wins; on a tie the SMALLER id wins (id asc)
            if best_i is None or score > best_score or (
                score == best_score and ids[i] < ids[best_i]
            ):
                best_i, best_red, best_score = i, red, score
        selected.append((best_i, best_red, best_score))
        remaining.remove(best_i)

    out = [
        (ids[i], rank + 1, rel[i], red, score)
        for rank, (i, red, score) in enumerate(selected)
    ]
    return local_df(candidates.sparkSession, out, out_schema)


def mine_hard_negatives(
    docs: DataFrame,
    emb: DataFrame,
    terms: Sequence[str],
    query_vec: Sequence[float],
    k_neg: int = 10,
    n_candidates: int = 100,
    max_pos_sim: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    emb_col: str = "embedding",
    bm25: DataFrame | None = None,
    pos: DataFrame | None = None,
) -> DataFrame:
    """Mine hard negatives for contrastive-embedding training (the DPR
    recipe, Karpukhin et al. 2020: BM25 top hits that are NOT the
    positive are the hardest negatives; sentence-transformers adds the
    positive-similarity guard that drops candidates too close to the
    positive — near-duplicate false negatives poison the loss).

    Pipeline (every stage an already-certified operator shape):

    1. positive = top-1 by query cosine — ONE TakeOrderedAndProject, and
       the resulting single row is broadcast (never a shuffle key).
    2. candidates = BM25 top-``n_candidates`` for the query terms
       (inverted aggregation) joined to their embeddings.
    3. guard: drop the positive itself and any candidate whose cosine to
       the positive embedding exceeds ``max_pos_sim`` (compared on the
       ROUNDED value — both engines agree at 6 dp, so the threshold can
       never flip on float noise).
    4. keep the ``k_neg`` lexically hardest survivors (lowest bm25_rank;
       ranks are unique integers, so the cut is deterministic).

    Returns (doc_id, bm25_rank, bm25_score, cos_pos, pos_doc_id).
    At 100 TB: the corpus-sized work is exactly one BM25 pass; everything
    downstream operates on the bounded candidate list. Multi-query mining
    is this plan with the query set exploded against the candidate
    union — the q3_multiquery_topk broadcast pattern. Callers that
    already ranked the corpus (hybrid retrieval runs the same BM25 pass)
    pass it via ``bm25`` (needs doc_id/bm25_score/bm25_rank, top
    ``n_candidates``) so the corpus is scanned once, not twice. Callers
    that already hold the query's cosine top list pass the positive via
    ``pos`` (one row: pos_doc_id, _pos_emb — the head of the SAME
    (round(cos,6) DESC, id ASC) ordering this function would compute) so
    the positive-selection scan of ``emb`` is skipped too (round-13).
    """
    from ..functions.vector import cosine_similarity

    bm = (
        bm25
        if bm25 is not None
        else bm25_rank(docs, terms, k=n_candidates, id_col=id_col, text_col=text_col)
    )
    # array_lit (round-8 literal hygiene): one constant-folded Literal
    qv = array_lit([float(v) for v in query_vec])
    # positive selection ranks on the 6-dp-ROUNDED cosine, id tiebreak —
    # the repo's round-before-rank discipline (q49 cos_top): DuckDB's
    # sqrt(x*y) vs Spark's sqrt(x)*sqrt(y) differ in the last ulp, and a
    # near-tie here would flip the positive and cascade through the arm
    if pos is None:
        pos = (
            emb.select(
                F.col(vec_id_col).alias("pos_doc_id"),
                F.col(emb_col).alias("_pos_emb"),
                F.round(cosine_similarity(emb_col, qv), 6).alias("_qc"),
            )
            .orderBy(F.desc("_qc"), F.asc("pos_doc_id"))
            .limit(1)
            .drop("_qc")
        )
    cands = bm.join(
        emb.select(F.col(vec_id_col).alias(id_col), F.col(emb_col).alias("_emb")),
        id_col,
    ).crossJoin(F.broadcast(pos))
    scored = cands.withColumn(
        "cos_pos", F.round(cosine_similarity(F.col("_emb"), F.col("_pos_emb")), 6)
    ).filter(
        (F.col(id_col) != F.col("pos_doc_id"))
        & (F.col("cos_pos") <= F.lit(max_pos_sim))
    )
    return (
        scored.select(id_col, "bm25_rank", "bm25_score", "cos_pos", "pos_doc_id")
        .orderBy(F.asc("bm25_rank"))
        .limit(k_neg)
    )


def cross_encoder_rerank(
    candidates: DataFrame,
    query_text: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: str = "fake",
):
    """Cross-encoder re-rank of a BOUNDED candidate list — the precision
    tier of the modern serving stack (retrieve wide with BM25/ANN, then
    score (query, document) PAIRS jointly; bi-encoders can't see
    query-document token interactions). The reference serves raw
    bi-encoder rankings (qdrant.py:201-205); this stage is the standard
    quality upgrade between retrieval and MMR diversification.

    ``candidates`` must already be top-N bounded (the distributed stage
    is the retriever's TakeOrderedAndProject); the pair scorer is one
    Arrow-batched pandas_udf over that bounded frame — never the corpus.

    ``model='fake'`` scores pairs with the md5-derived deterministic
    stand-in (same convention as encoder.py: replayable bit for bit, so
    tests can value-pin ordering); ``model='sbert'`` is the import-gated
    sentence-transformers CrossEncoder seam — raises ImportError eagerly
    if the library is absent (the container has none), auto-upgrading
    when it lands, exactly like the sbert/PIL seams. Returns the top-k
    by (rounded score desc, id asc) with ``ce_rank``.
    """
    from pyspark.sql.functions import pandas_udf

    if model == "sbert":
        import sentence_transformers  # noqa: F401  (gate: not in container)

        qt = str(query_text)

        def make_udf():
            # SCALAR_ITER form (encoder.py's sbert discipline): the
            # multi-hundred-MB model loads ONCE per python worker and
            # streams Arrow batches — a per-batch constructor would
            # reload it maxRecordsPerBatch-often and dominate runtime
            @pandas_udf("double")
            def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
                import pandas as _pd
                from sentence_transformers import CrossEncoder

                ce = CrossEncoder("cross-encoder/ms-marco-MiniLM-L-6-v2")
                for texts in batches:
                    yield _pd.Series(
                        ce.predict([(qt, t or "") for t in texts])
                    )

            return score
    elif model == "fake":
        qt = str(query_text)

        def make_udf():
            @pandas_udf("double")
            def score(texts: pd.Series) -> pd.Series:
                import hashlib as _hashlib

                import pandas as _pd

                def one(t):
                    h = _hashlib.md5(f"{qt}\x1e{t or ''}".encode()).hexdigest()
                    return int(h[:8], 16) / 4294967296.0

                return _pd.Series([one(t) for t in texts])

            return score
    else:
        raise ValueError(f"unknown cross-encoder model: {model}")

    scored = candidates.withColumn(
        "ce_score", F.round(make_udf()(F.col(text_col)), 6)
    )
    from pyspark.sql import Window

    ranked = (
        scored.orderBy(F.desc("ce_score"), F.asc(id_col))
        .limit(k)
        .withColumn(
            "ce_rank",
            F.row_number().over(Window.orderBy(F.desc("ce_score"), F.asc(id_col))),
        )
    )
    return ranked
