"""Plan-regression tests — lock in the physical plans that survive 100 TB
(SURVEY §4; brief: ".explain the plan and iterate until it's the plan
you'd want", then keep it that way).

Each assertion encodes a scale property:
- top-k → TakeOrderedAndProject (per-partition heaps, no global Sort).
- filters/projections → pushed into the parquet scan.
- k-sized/dim-sized join sides → BroadcastHashJoin (no shuffle of the big
  side); no CartesianProduct anywhere except the intended broadcast cross.
- scoring stays in WholeStageCodegen (no Python in the hot path).
"""




from pubmed_central_semantic_search_spark.plans.planner import (
    assert_plan,
    plan_topk_search,
)
from pubmed_central_semantic_search_spark.registry import REGISTRY, QUERY_VECS


def _q(name, spark, sf_dir):
    return REGISTRY[name].spark(spark, sf_dir)


def test_topk_is_take_ordered(spark, sf_dir):
    plan = assert_plan(
        _q("q1_topk_cosine", spark, sf_dir),
        contains=["TakeOrderedAndProject"],
        not_contains=["Exchange rangepartitioning", "CartesianProduct"],
    )
    # cosine is a Catalyst expression: no python worker in this plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filter_and_projection_pushdown(spark, sf_dir):
    assert_plan(
        _q("q4_filter_project", spark, sf_dir),
        contains=["PushedFilters: [IsNotNull(o_orderstatus)"],
    )
    plan = assert_plan(_q("q4_filter_project", spark, sf_dir), contains=[])
    # column pruning: the scan reads the 3 projected columns + the filter
    # column (kept for post-scan re-check) and nothing else
    assert "o_orderdate" not in plan and "o_orderpriority" not in plan


def test_small_dims_broadcast(spark, sf_dir):
    assert_plan(
        _q("q5_revenue_by_nation", spark, sf_dir),
        contains=["BroadcastHashJoin"],
        not_contains=["CartesianProduct"],
    )


def test_semi_anti_join_physical(spark, sf_dir):
    assert_plan(
        _q("q6_semi_anti_join", spark, sf_dir),
        contains=["LeftSemi", "LeftAnti"],
    )


def test_multiquery_broadcasts_query_side(spark, sf_dir):
    # the tiny query side must broadcast; the embeddings scan must not
    # shuffle before scoring
    assert_plan(
        _q("q3_multiquery_topk", spark, sf_dir),
        contains=["BroadcastNestedLoopJoin"],
        not_contains=["SortMergeJoin"],
    )


def test_e2e_search_no_cartesian_blowup(spark, sf_dir):
    # chunk-side joins must all broadcast the k-sized side
    assert_plan(
        _q("q20_semantic_search_e2e", spark, sf_dir),
        contains=["BroadcastHashJoin"],
        not_contains=["CartesianProduct"],
    )


def test_highlight_context_is_one_scan_one_shuffle(spark, sf_dir):
    # Q2+Q6 fused: the highlight+context subtree must scan chunks ONCE and
    # shuffle ONCE — the rank window's hash(query_id, article_id) exchange
    # also serves the finer-keyed context window (subset-satisfies-
    # clustering), which therefore appears as a Sort with no Exchange.
    from pubmed_central_semantic_search_spark.operators.search import (
        highlight_with_context,
        score_documents,
    )
    from pubmed_central_semantic_search_spark.queries.pipeline import (
        _synthetic_chunks,
    )
    from pubmed_central_semantic_search_spark.registry import QUERY_VEC

    chunks = _synthetic_chunks(spark, sf_dir)
    queries = spark.createDataFrame(
        [(0, QUERY_VEC)], "query_id int, qvec array<double>"
    )
    top = score_documents(
        chunks.select("article_id", "embedding"), queries, 5
    )
    out = highlight_with_context(chunks, top, n_paragraphs=1, window=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # subtract the top_docs subtree (computed once, broadcast): build it
    # alone and diff the counts
    top_plan = top._jdf.queryExecution().executedPlan().toString()
    extra_scans = plan.count("Scan parquet") - top_plan.count("Scan parquet")
    extra_shuffles = plan.count("Exchange hashpartitioning") - top_plan.count(
        "Exchange hashpartitioning"
    )
    assert extra_scans == 1, plan
    assert extra_shuffles == 1, plan


def test_lsh_join_is_hash_not_cartesian(spark, sf_dir):
    # multi-probe explodes the QUERY side only; the vectors side must still
    # hash-join against the broadcast probe set, never nested-loop.
    assert_plan(
        _q("q27_lsh_multiprobe_topk", spark, sf_dir),
        contains=["BroadcastHashJoin"],
        not_contains=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )


def test_planner_modes(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = spark.createDataFrame(
        [(qid, v) for qid, v in QUERY_VECS.items()],
        "query_id int, qvec array<double>",
    )
    exact = plan_topk_search(emb, qdf, k=3, mode="exact")
    approx = plan_topk_search(emb, qdf, k=3, mode="approx", dim=64)
    auto = plan_topk_search(emb, qdf, k=3, mode="auto")
    assert exact.count() == 9  # 3 queries × k
    assert approx.count() <= 9  # LSH may return < k per bucket
    assert auto.count() == 9  # small corpus → exact tier

    from pubmed_central_semantic_search_spark.operators.clustering import (
        seed_centroids,
    )

    ivf = plan_topk_search(
        emb, qdf, k=3, mode="ivf", centroids=seed_centroids(emb, 4), nprobe=4
    )
    # nprobe = all lists → IVF degenerates to exact: same ids as brute force
    assert sorted(map(tuple, ivf.select("query_id", "vec_id").collect())) == sorted(
        map(tuple, exact.select("query_id", "vec_id").collect())
    )

    # the BLAS kernel of the exact tier: same ids, Arrow-batched plan
    blas = plan_topk_search(emb, qdf, k=3, mode="exact", kernel="blas")
    assert sorted(map(tuple, blas.select("query_id", "vec_id").collect())) == sorted(
        map(tuple, exact.select("query_id", "vec_id").collect())
    )
    assert "ArrowEvalPython" in blas._jdf.queryExecution().executedPlan().toString()


def test_pipeline_encoder_is_arrow_batched(spark, sf_dir):
    # E1 must run as ArrowEvalPython (pandas_udf), never BatchEvalPython
    # (row-pickling UDF)
    plan = assert_plan(
        _q("q21_document_pipeline", spark, sf_dir),
        contains=["ArrowEvalPython"],
    )
    assert "BatchEvalPython" not in plan


def test_snowflake_join_all_dims_broadcast(spark, sf_dir):
    # the fact table must reach the aggregate without a single pre-agg
    # shuffle: every dim join is a BroadcastHashJoin
    plan = assert_plan(
        _q("q40_snowflake_join", spark, sf_dir),
        contains=["BroadcastHashJoin"],
        not_contains=["SortMergeJoin", "CartesianProduct"],
    )
    assert plan.count("BroadcastHashJoin") >= 4


def test_ivf_probe_join_is_hash(spark, sf_dir):
    assert_plan(
        _q("q37_ivf_topk", spark, sf_dir),
        contains=["BroadcastHashJoin"],
        not_contains=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )


def test_ngram_jaccard_no_cartesian(spark, sf_dir):
    # the inverted-index self-join must be an equi-join on shingle
    assert_plan(
        _q("q36_ngram_jaccard", spark, sf_dir),
        not_contains=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )


def test_pii_scrub_is_narrow_no_exchange(spark, sf_dir):
    """q54 PII scrub is a pure per-row map: scan → project. Any Exchange
    here would mean the redaction pass shuffles the corpus at 100 TB."""
    plan = assert_plan(
        _q("q54_pii_scrub", spark, sf_dir),
        not_contains=["Exchange", "BatchEvalPython", "ArrowEvalPython"],
    )
    assert "* Project" in plan  # whole-stage codegen'd projection


def test_split_and_sample_two_window_shuffles_no_join(spark, sf_dir):
    """q50: split buckets, sample membership, DSIR log-weights (model as
    a packed literal) and both sampling keys stay per-row expressions
    (joining the kept-sample set would put fraction × corpus on a join);
    the wide ops are exactly TWO window sorts — the shard-keyed
    deterministic_shuffle positions and the source-keyed grouped-WRS
    rank. (The DSIR fit is its own one-pass job at plan-build time, not
    part of this plan.)"""
    plan = _q("q50_split_and_sample", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "hashpartitioning(shard" in plan, plan
    assert "hashpartitioning(source" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_packing_and_budget_two_window_shuffles(spark, sf_dir):
    """q51: each running-total window shuffles the corpus ONCE on the shard
    key (two orderings → two exchanges); the budget side reattaches by
    broadcast. The tok_id_sum emitter arm adds exactly two more keyed
    exchanges (the vocab token groupBy and the per-doc sum groupBy) — its
    vocab lookup must stay a broadcast join on token, never a corpus
    shuffle on the token stream."""
    plan = _q("q51_packing_and_budget", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 4, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "[token" in plan[plan.index("BroadcastExchange"):], plan
    assert "SortMergeJoin" not in plan, plan


def test_vocab_corpus_stages_are_partial_aggregated(spark, sf_dir):
    """q55: the corpus-sized token count must partial-aggregate map-side
    (HashAggregate appears as partial+final pair), and the only
    single-partition stage is the vocab-sized ranking window."""
    plan = _q("q55_vocab_build", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "HashAggregate" in plan
    # the global window exchange exists, but must sit above the aggregate
    # (vocab-sized input), not above the raw token explode
    assert plan.index("Window") < plan.index("Generate")


def test_text_analysis_panel_is_one_narrow_projection(spark, sf_dir):
    """The five per-row text signals (lang-ID, quality, BPE count,
    repetition, rolling fingerprint) are pure row functions — their
    sub-plan must be a single scan with NO exchange and NO join. (q28
    additionally LEFT-joins the bigram-LM perplexity aggregate onto this
    panel — covered by the next assertion set.)"""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.textstats import (
        bpe_token_count,
        language_id,
        quality_score,
        repetition_ratio,
        rolling_fingerprint_col,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    panel = repetition_ratio(quality_score(d), "doc_id", "text", n=3).select(
        "doc_id",
        language_id("text").alias("predicted_lang"),
        "quality_milli",
        bpe_token_count("text").alias("n_bpe_tokens"),
        "rep_milli",
        F.coalesce(rolling_fingerprint_col("text"), F.lit(-1)).alias("fingerprint"),
    )
    plan = panel._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_text_analysis_fused_ppl_joins_are_disciplined(spark, sf_dir):
    """Fused q28: the perplexity arm's model joins ride broadcast, there
    is no cartesian product, and — since the Gopher panel's Arrow gram
    kernel was demoted to pytest parity (round 6, the oracle-tower
    amortization policy) — the remaining plan is pure JVM: no Python
    stage of either kind. The panel's own Arrow-kernel plan shape stays
    pinned in tests/test_gopher.py."""
    plan = _q("q28_text_analysis", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan, plan


def test_minhash_first_shuffle_is_the_candidate_join(spark, sf_dir):
    """q23: signatures and band keys are per-row expressions; the ONLY
    wide ops are the candidate equi-join, the distinct, and the verify
    joins/aggregates — no groupBy may appear upstream of banding (the old
    signature groupBy shuffled the corpus). Proxy assertion: the pair
    pipeline up to candidates carries exactly the join+distinct
    exchanges."""
    from pubmed_central_semantic_search_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", n_hashes=8, bands=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # two join inputs + one distinct = at most 3 hash exchanges; the old
    # shape had 5 (signature groupBy + band groupBy upstream)
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "HashAggregate" in plan  # the distinct


def test_simhash_fingerprint_is_narrow(spark, sf_dir):
    """simhash32: a pure projection — no exchange, no aggregate."""
    from pubmed_central_semantic_search_spark.operators.dedup import simhash32

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = simhash32(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_packed_literals_fold_to_one_leaf(spark):
    """array_lit/matrix_lit: the from_json wrapper must constant-fold to a
    plain Literal during optimization (one plan leaf regardless of k×dim),
    and the folded values must be bit-exact vs the element-wise F.lit
    tree. An unfolded from_json would re-parse per row; a CreateArray
    tree costs seconds of driver-side plan work per ACTION at dim=768."""
    import math

    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.functions.vector import (
        array_lit,
        matrix_lit,
    )

    vec = [math.sin(0.7 * i + 0.3) for i in range(768)]
    mat = [[math.sin(0.31 * r + 0.13 * i) for i in range(64)] for r in range(8)]
    df = spark.range(1).select(
        array_lit(vec).alias("v"),
        matrix_lit(mat).alias("m"),
        F.lit(vec).alias("v_ref"),
        F.lit(mat).alias("m_ref"),
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized, optimized
    row = df.collect()[0]
    assert list(row["v"]) == list(row["v_ref"])  # exact, not approx
    assert [list(r) for r in row["m"]] == [list(r) for r in row["m_ref"]]


def test_packed_literals_reject_non_finite():
    import pytest

    from pubmed_central_semantic_search_spark.functions.vector import (
        array_lit,
        matrix_lit,
    )

    with pytest.raises(ValueError):
        array_lit([1.0, float("nan")])
    with pytest.raises(ValueError):
        matrix_lit([[1.0], [float("inf")]])


def test_repeated_spans_plan_shape(spark, sf_dir):
    """repeated_ngram_spans: window generation is narrow (no shuffle
    before the hot-window aggregate), the hot join is a hash equi-join
    (never a cartesian), and the island merge sorts only HIT rows."""
    from pubmed_central_semantic_search_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        repeated_ngram_spans(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_planner_rejects_blas_kernel_outside_exact(spark, sf_dir):
    import pytest as _pt
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    with _pt.raises(ValueError, match="kernel='blas' requires mode='exact'"):
        plan_topk_search(emb, qdf, k=3, mode="approx", kernel="blas", dim=64)
    with _pt.raises(ValueError, match="unknown kernel"):
        plan_topk_search(emb, qdf, k=3, mode="exact", kernel="avx")


def test_semantic_dedup_plan_no_cartesian(spark, sf_dir):
    """semantic_dedup's pair stage must be the blocked equi-join
    (cluster_id key), never a CartesianProduct — the SemDeDup scale
    contract."""
    from pubmed_central_semantic_search_spark.operators.clustering import (
        seed_centroids,
    )
    from pubmed_central_semantic_search_spark.operators.dedup import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = seed_centroids(emb, k=8)
    out = semantic_dedup(emb, cents, min_cosine=0.95)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_xmodal_arm_is_arrow_batched_topk(spark, sf_dir):
    """q42's cross-modal arm: the media encoder rides ArrowEvalPython
    (never row-at-a-time), and the top-5 cut is TakeOrderedAndProject —
    the same contracts as E1/Q1."""
    plan = _q("q42_multimodal_features", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_planner_auto_kernel_picks_by_dim(spark, sf_dir):
    """kernel='auto' routes the exact tier at the measured crossover:
    dim=64 queries stay on the bit-exact Catalyst HOF fold (no Python
    stage in the plan), dim=768 queries take the Arrow-batched BLAS
    matmul — and both return the same ids as their explicit twins."""
    from pyspark.sql import functions as F

    emb64 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q64 = emb64.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    auto64 = plan_topk_search(emb64, q64, k=3, mode="exact", kernel="auto")
    plan64 = auto64._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan64  # hof side of the crossover
    assert sorted(map(tuple, auto64.select("query_id", "vec_id").collect())) == sorted(
        map(
            tuple,
            plan_topk_search(emb64, q64, k=3, mode="exact")
            .select("query_id", "vec_id")
            .collect(),
        )
    )

    pad = F.concat(
        F.col("embedding"),
        F.array_repeat(F.element_at("embedding", 1), 768 - 64),
    )
    emb768 = emb64.select("vec_id", pad.alias("embedding")).limit(200)
    q768 = emb768.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    auto768 = plan_topk_search(emb768, q768, k=3, mode="exact", kernel="auto")
    plan768 = auto768._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan768  # blas side of the crossover
    assert sorted(map(tuple, auto768.select("query_id", "vec_id").collect())) == sorted(
        map(
            tuple,
            plan_topk_search(emb768, q768, k=3, mode="exact", kernel="blas")
            .select("query_id", "vec_id")
            .collect(),
        )
    )


def test_planner_auto_kernel_rejected_outside_exact(spark, sf_dir):
    import pytest as _pt
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    with _pt.raises(ValueError, match="kernel='auto' requires mode='exact'"):
        plan_topk_search(emb, qdf, k=3, mode="approx", kernel="auto", dim=64)


def test_hybrid_rrf_round8_arms_plan_shape(spark, sf_dir):
    """q49 with the round-8 arms: the ONLY Python stage is the xrank
    cross-encoder pair scorer (Arrow-batched over the bounded BM25
    candidates — never BatchEvalPython), and no CartesianProduct appears
    anywhere (the mmr arm's greedy ran at plan-build time over a
    collected top-N; its rows ride a local relation)."""
    plan = assert_plan(
        _q("q49_hybrid_rrf", spark, sf_dir),
        contains=["ArrowEvalPython", "TakeOrderedAndProject"],
        not_contains=["CartesianProduct", "BatchEvalPython"],
    )
    # exactly ONE python stage: the ce scorer (mmr contributes none).
    # Count on the executed plan's tree string — the formatted explain
    # assert_plan returns prints every operator twice (tree + details).
    tree = (
        _q("q49_hybrid_rrf", spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert tree.count("ArrowEvalPython") == 1, tree


def test_q47_pca_arm_is_narrow_catalyst(spark, sf_dir):
    """Round-9 'pca' arm: the whitened projection is pure Catalyst over
    packed literals — NO Python stage anywhere in q47's plan, and the
    only exchanges are the two arms' label aggregations (never a join)."""
    plan = _q("q47_quantization_error", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_q42_pdf_arm_is_arrow_batched(spark, sf_dir):
    """Round-9 'pdf' arm: both the generator pandas_udf and the lite
    extractor's mapInPandas ride Arrow (never row-at-a-time Python)."""
    plan = _q("q42_multimodal_features", spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    # the pdf leg contributes at least one mapInPandas stage
    assert "MapInPandas" in plan, plan


def test_q45_hll_arms_single_pass_shape(spark, sf_dir):
    """Round-9 'hllx'/'hllest' arms: register build is ONE partial-
    aggregated groupBy (no Python, no join); the estimate is one more
    aggregate over the m-sized register frame."""
    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )
    from pubmed_central_semantic_search_spark.registry import load

    e = load(spark, sf_dir, "events")
    plan = (
        hll_estimate(hll_build(e, "user_id", m=64, group_cols=["event_type"]),
                     ["event_type"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_max" in plan or "max(" in plan, plan


def test_q16_bloom_arms_plan_shape(spark, sf_dir):
    """Round-10 'bloomword'/'bloomnew' arms: the word build is one
    partial-aggregated bit_or groupBy (no Python, no join); the
    anti-join prefilter's maybe-side is a real LeftAnti hash join —
    never a cartesian — and the definite side is join-free (the
    membership probe is a constant-folded projection)."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join,
        bloom_build,
        bloom_literal,
    )
    from pubmed_central_semantic_search_spark.registry import load

    d = load(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    build_plan = (
        bloom_build(hist, "text", n_words=2048, k=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in build_plan, build_plan
    assert "Join" not in build_plan, build_plan
    assert "bit_or" in build_plan.lower(), build_plan

    words = bloom_literal(bloom_build(hist, "text", 2048, 4), 2048)
    anti_plan = (
        bloom_anti_join(batch, hist, "text", n_words=2048, k=4, words=words)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in anti_plan, anti_plan
    assert "LeftAnti" in anti_plan, anti_plan
    assert "EvalPython" not in anti_plan, anti_plan


def test_bloom_anti_join_table_probe_is_broadcast(spark, sf_dir):
    """The table-probed tier (round-10): the words side broadcasts (it
    is ≤ n_words rows by construction) — the probe join must be a
    BroadcastHashJoin, never an exchange-on-both-sides shuffle join,
    and the exact-verify remainder stays a LeftAnti."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join_table,
        bloom_build,
    )
    from pubmed_central_semantic_search_spark.registry import load

    d = load(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    table = bloom_build(hist, "text", n_words=256, k=4)
    plan = (
        bloom_anti_join_table(batch, table, hist, "text", n_words=256, k=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Cartesian" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_bloom_anti_join_table_drops_broadcast_beyond_ceiling(spark, sf_dir):
    """ADVICE r10: the words-side broadcast hint must be SIZE-GATED — a
    filter beyond _BLOOM_BROADCAST_MAX_WORDS (a multi-GB words table at
    the >10^7-key scale this tier exists for) must NOT be force-
    broadcast; the probe falls back to a plain equi-join on word_idx.
    Geometry validation and the LeftAnti remainder are unchanged."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        _BLOOM_BROADCAST_MAX_WORDS,
        bloom_anti_join_table,
        bloom_build,
    )
    from pubmed_central_semantic_search_spark.registry import load

    big = _BLOOM_BROADCAST_MAX_WORDS * 2
    d = load(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 4 != 0)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    # geometry metadata says `big` words; the physical table stays tiny
    # (bloom words are sparse rows — exactly the at-scale layout)
    table = bloom_build(hist, "text", n_words=big, k=4)
    df = bloom_anti_join_table(batch, table, hist, "text", n_words=big, k=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe join on word_idx must not be broadcast-hinted; Spark may
    # still auto-broadcast tiny runtime sizes, so pin the HINT, not the
    # physical strategy: the optimized logical plan carries no broadcast
    # hint on the words side
    # under-ceiling call still hints (regression guard for the fast path)
    small_table = bloom_build(hist, "text", n_words=256, k=4)
    small_logical = (
        bloom_anti_join_table(batch, small_table, hist, "text",
                              n_words=256, k=4)
        ._jdf.queryExecution().analyzed().toString()
    )
    big_logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in small_logical or "broadcast" in small_logical.lower()
    assert "ResolvedHint" not in big_logical
    assert "LeftAnti" in plan, plan
    assert "Cartesian" not in plan, plan


def test_mean_pool_plan_does_not_grow_with_dim(spark):
    """mean_pool averages once per (group, pos) at every width: the
    analyzed plan at dim 768 holds ONE avg aggregate and is about as long
    as the dim 8 plan. One avg column per component made the plan grow
    with the width and cost seconds to build at dim 768."""
    import re

    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool

    df = spark.createDataFrame([("a", [1.0])], "g string, embedding array<double>")

    def analyzed(dim):
        return mean_pool(df, ["g"], dim=dim)._jdf.queryExecution().analyzed().toString()

    wide, narrow = analyzed(768), analyzed(8)
    assert len(re.findall(r"\bavg\(", wide)) == 1, wide
    assert len(wide) < 2 * len(narrow), (len(wide), len(narrow))
