"""dim=768 proof pack — the reference's REAL dimensionality.

Everything driver-certified runs at the test tables' dim=64; the reference
encodes at 768 (``/root/reference/src/backend/database/qdrant.py:74``,
``all-mpnet-base-v2`` in ``app.py:17``). These builders widen the 64-dim
corpus to 768 deterministically and re-run the flagship vector operators
at full width, proving the (group, pos) mean-pool aggregate, the cosine
expression, and the centroid-literal codegen hold at 12× the certified
dimensionality (with the broadcast-join assignment fallback for k × dim
beyond codegen comfort — ``operators/clustering.py``
``nearest_centroid_join``).

The widening is a TILING with per-tile scales:
``v768[t*64 + i] = v64[i] * s_t`` (s_t a fixed nonzero constant). Dot
products and norms then scale by the same ``Σ s_t²`` factor, so
**cosine at 768 equals cosine at 64 exactly** (in real arithmetic) — every
768-dim result has a built-in correctness twin at 64, which the tests
exploit (and float noise is bounded by comparing rounded scores).

Not registry queries (the registry is capped at 50 driver rows) — these
are bench entries (``BENCH_EXTRAS``) + e2e tests (tests/test_dim768.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import array_lit, as_double
from ..registry import QUERY_VEC, load
from ..session import local_df

DIM64 = 64
TILES = 12
DIM = DIM64 * TILES  # 768

# Fixed nonzero per-tile scales (pure function of the tile index).
TILE_SCALES = [round(math.sin(0.31 * t + 0.17) + 1.5, 6) for t in range(TILES)]


def widen(vec_col: Column | str) -> Column:
    """64-dim array<double> → 768-dim: 12 scaled tiles, pure Catalyst."""
    v = as_double(vec_col)
    return F.flatten(
        F.array(*[F.transform(v, lambda x: x * F.lit(s)) for s in TILE_SCALES])
    )


def widen_list(vec: list[float]) -> list[float]:
    return [x * s for s in TILE_SCALES for x in vec]


def corpus_768(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", widen("embedding").alias("embedding"))


# --- bench entries ---------------------------------------------------------


def x768_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1 at dim=768: full-width cosine + TakeOrderedAndProject."""
    from ..functions.vector import cosine_similarity
    from ..operators.topk import top_k

    emb = corpus_768(spark, sf_dir)
    scored = emb.select(
        "vec_id",
        cosine_similarity("embedding", array_lit(widen_list(QUERY_VEC))).alias("score"),
    )
    return top_k(scored, "score", 5, tiebreak=["vec_id"]).withColumn(
        "score", F.round("score", 6)
    )


def x768_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/A1 at dim=768: the grouped vector mean, one row per (label, pos)."""
    from ..operators.pooling import mean_pool_flat

    emb = corpus_768(spark, sf_dir)
    return mean_pool_flat(emb, group=["label"], vec_col="embedding")


def x768_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 at dim=768, k=8: Lloyd rounds on a deterministic 1/16 sample,
    then ONE full-corpus assignment pass — the 100 TB training shape
    (k-means quality saturates at sample sizes in the 100k range, so
    training cost is sample-sized at any corpus scale; only the final
    assignment touches every row). The assignment uses the packed-literal
    zip_with projection and training the posexplode re-aggregation — the
    shapes that replaced the unrolled/wide-agg forms after they fell out
    of codegen at this width (see operators/clustering.py)."""
    from ..operators.clustering import lloyd_kmeans, nearest_centroid

    emb = corpus_768(spark, sf_dir)
    train = emb.filter(F.col("vec_id") % 16 == 0).persist()
    _, cents = lloyd_kmeans(train, k=8, n_iter=2, dim=DIM)
    train.unpersist()
    # the caller's action executes the full-corpus assignment scan
    assigned = emb.withColumn("cluster_id", nearest_centroid("embedding", cents))
    return assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))


def x768_kmeans_join_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-literal fallback at dim=768: broadcast-join argmax
    assignment under the same seeds (the k × dim-beyond-codegen path)."""
    from ..operators.clustering import nearest_centroid_join, seed_centroids

    emb = corpus_768(spark, sf_dir)
    cents = seed_centroids(emb, k=8)
    assigned = nearest_centroid_join(emb, cents)
    return assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))


def x768_encode_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 at dim=768: Arrow-batched encode of the documents corpus at the
    reference's real output width (768 floats/row over the Arrow channel),
    then a full-width cosine top-5 against an encoded query — the
    ingest+query flagship at true dimensionality."""
    from ..encoder import fake_encode_one, fake_encoder_udf
    from ..functions.vector import cosine_similarity
    from ..operators.topk import top_k

    encode = fake_encoder_udf(dim=DIM)
    # the corpus parquet is one ~MB file locally → one scan partition →
    # a single python worker would run the whole model stage; spread the
    # expensive encode across cores first (at 100 TB the scan has
    # thousands of partitions and this repartition is a no-op to remove)
    par = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents").repartition(par).select(
        "doc_id", encode("text").alias("embedding")
    )
    qvec = [float(x) for x in fake_encode_one("neural document retrieval", dim=DIM)]
    scored = docs.select(
        "doc_id",
        cosine_similarity("embedding", array_lit(qvec)).alias("score"),
    )
    return top_k(scored, "score", 5, tiebreak=["doc_id"]).withColumn(
        "score", F.round("score", 6)
    )


def x_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): train codebooks on an
    id-prefix sample (one Lloyd round — training is sample-sized at any
    corpus scale), narrow-encode the corpus to m=8 codes (32× smaller
    than the float vectors), ADC top-100 from the codes alone, exact
    re-rank to top-10."""
    from ..operators.pq import pq_topk, train_pq

    emb = load(spark, sf_dir, "embeddings")
    books = train_pq(
        emb.filter(F.col("vec_id") < 1000), m=8, ksub=16, dim=64, n_iter=1
    )
    return pq_topk(emb, QUERY_VEC, books, k=10, rerank=100).withColumn(
        "score", F.round("score", 6)
    )


def x768_topk_cosine_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS twin of x768_topk_cosine: the exact top-k
    ``brute_force_topk(kernel="blas")`` for the one query, so Arrow-batched
    numpy matmul instead of interpreted HOF folds — same result set; the
    two entries bench the kernel crossover at dim=768."""
    from ..operators.ann import brute_force_topk

    emb = corpus_768(spark, sf_dir)
    q = local_df(
        spark, [(0, widen_list(QUERY_VEC))], "query_id int, qvec array<double>"
    )
    return brute_force_topk(emb, q, 5, kernel="blas").select(
        "vec_id", F.round("score", 6).alias("score")
    )


def x768_assign_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BLAS twin of x768_kmeans_join_assign: identical seeds and
    cluster counts, full-corpus assignment via one Arrow round-trip
    (no join, no shuffle before the count aggregate) — three strategies
    for the same work sit side by side in the bench output."""
    from ..operators.clustering import seed_centroids
    from ..operators.vectorized import assign_clusters_np

    emb = corpus_768(spark, sf_dir)
    cents = seed_centroids(emb, k=8)
    assigned = assign_clusters_np(emb, cents)
    return assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))


N_MULTIQ = 8  # enough queries that per-query rescans would dominate


def _multiq_768() -> list[tuple[int, list[float]]]:
    """Deterministic 8-query set at dim 768 (QUERY_VEC phase-shifted —
    same recipe as registry.QUERY_VECS, widened)."""
    return [
        (
            qid,
            widen_list(
                [round(math.sin(0.7 * i + 0.3 + 1.3 * qid), 6) for i in range(64)]
            ),
        )
        for qid in range(N_MULTIQ)
    ]


def x768_multiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query top-k, JVM/HOF shape: broadcast-crossJoin the 8-query
    set against the corpus and fold cosine per (row, query) pair — ONE
    corpus scan, but 8 interpreted 768-dim folds per row."""
    from ..operators.ann import brute_force_topk

    emb = corpus_768(spark, sf_dir)
    qdf = local_df(spark, 
        _multiq_768(), "query_id int, qvec array<double>"
    )
    return brute_force_topk(emb, qdf, k=5)


def x768_multiq_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS twin of x768_multiq (the one-scan many-queries claim's
    number): the same ``brute_force_topk`` call with ``kernel="blas"``,
    so one (batch x 768) @ (768 x 8) matmul per Arrow batch scores all 8
    queries — same rows at rounded scores."""
    from ..operators.ann import brute_force_topk

    emb = corpus_768(spark, sf_dir)
    qdf = local_df(spark, _multiq_768(), "query_id int, qvec array<double>")
    return brute_force_topk(emb, qdf, k=5, kernel="blas")


def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end to end (operators/dedup.semantic_dedup): seed
    centroids -> blocked within-cluster near-dup -> components ->
    diversity survivor election, per-cluster keep counts as the output.

    k=32 keeps blocks at ~60 vectors here — the paper's own scaling rule
    (cluster count grows with the corpus so the within-cluster pair space
    stays bounded); the quadratic term is the whole cost of this query."""
    from ..operators.clustering import seed_centroids
    from ..operators.dedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings").persist()
    cents = seed_centroids(emb, k=32)
    out = semantic_dedup(emb, cents, min_cosine=0.9, keep="far_from_centroid")
    agg = out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("is_survivor").cast("bigint")).alias("n_survivors"),
    )
    # materialize eagerly so both pinned caches (this one and
    # semantic_dedup's internal assigned view) release before returning —
    # the no-pinned-RDD-outlives-the-entry rule the sibling entries follow
    # (round-8: the assigned view now actually releases via the operator's
    # attached-deps contract; before, this comment claimed it and leaked)
    from ..session import release_cached_deps

    rows = agg.collect()
    emb.unpersist()
    release_cached_deps(out)
    return local_df(spark, rows, agg.schema)


def x768_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA 768→32 + whitening at the reference's real width: one
    distributed moment pass (mapInPandas partials → single combine), eigh
    driver-side (768², corpus-independent), then the BLAS projection twin
    (the Catalyst path is test-pinned equivalent; at 768 the HOF fold is
    interpreted — kernel-tier rule). Output: per-component variance of the
    projection (≈1.0 when whitened — the operator's own correctness
    signal)."""
    from ..operators.projection import pca_fit, pca_project_np

    emb = corpus_768(spark, sf_dir).persist()
    model = pca_fit(emb, "embedding", out_dim=32)
    proj = pca_project_np(emb, model, "embedding", whiten=True)
    # materialize the 32-row result eagerly so the widened-corpus cache
    # can be released before returning (no pinned RDD outlives the entry)
    out = (
        proj.select(F.posexplode("proj").alias("component", "value"))
        .groupBy("component")
        .agg(F.round(F.var_samp("value"), 4).alias("variance"))
        .orderBy("component")
        .collect()
    )
    emb.unpersist()
    return local_df(spark, out, "component int, variance double")


def x768_pca_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval ON the PCA projection — the storage/latency claim of
    operators/projection.py made concrete and paired with
    ``x768_topk_cosine`` (same query, full width): fit 768→64 once,
    project corpus (BLAS twin) and query (driver-side ``project_vec``),
    then the certified top-k cosine runs in the 64-dim space — 12× fewer
    flops per score and a 12× smaller vector column at rest. The ranking
    contract vs full-dim (projection preserves centered cosine exactly at
    full rank; recall@k bound when lossy) is pinned in
    tests/test_projection.py."""
    from ..functions.vector import cosine_similarity
    from ..operators.projection import pca_fit, pca_project_np, project_vec
    from ..operators.topk import top_k

    emb = corpus_768(spark, sf_dir).persist()
    model = pca_fit(emb, "embedding", out_dim=64)
    proj = pca_project_np(emb, model, "embedding", out_col="proj")
    pq_vec = project_vec(model, widen_list(QUERY_VEC))
    scored = proj.select(
        "vec_id",
        cosine_similarity("proj", array_lit(pq_vec)).alias("score"),
    )
    out = top_k(scored, "score", 5, tiebreak=["vec_id"]).withColumn(
        "score", F.round("score", 6)
    )
    rows = out.collect()
    emb.unpersist()
    return local_df(spark, rows, out.schema)


def x768_serving_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern retrieval tier in ONE composition — what q41 is for
    curation, this is for serving: PCA-whiten 768→64 (storage/flops cut,
    variance-equalized space) → sample-trained coarse quantizer (IVF
    routing) → PQ codebooks on the projected space → IVF-PQ search (probe
    nprobe lists, ADC over codes, exact re-rank) → MMR diversification of
    the final page. Every stage's individual contract is certified
    elsewhere (x768_pca_whiten / q37 / q47 'pq' / x_mmr_rerank); this
    entry prices the composition end to end at the reference's real
    width."""
    from ..operators.clustering import lloyd_kmeans
    from ..operators.pq import ivfpq_topk, train_pq
    from ..operators.projection import pca_fit, pca_project_np, project_vec
    from ..operators.retrieval import mmr_rerank

    emb = corpus_768(spark, sf_dir).persist()
    model = pca_fit(emb, "embedding", out_dim=64)
    proj = pca_project_np(emb, model, "embedding", out_col="pvec", whiten=True)
    proj = proj.select("vec_id", "pvec").persist()
    qvec = project_vec(model, widen_list(QUERY_VEC), whiten=True)
    # sample-trained coarse quantizer + PQ codebooks (training cost is
    # sample-sized at any corpus scale — the x768_kmeans rule)
    train = proj.filter(F.col("vec_id") % 16 == 0)
    _, cents = lloyd_kmeans(
        train, k=8, n_iter=1, id_col="vec_id", vec_col="pvec", dim=64
    )
    books = train_pq(
        proj.filter(F.col("vec_id") < 1000),
        m=8,
        ksub=16,
        dim=64,
        n_iter=1,
        vec_col="pvec",
    )
    cands = ivfpq_topk(
        proj, qvec, cents, books, k=30, nprobe=4, rerank=100, vec_col="pvec"
    )
    # broadcast the k-sized candidate list, never the corpus side
    with_vecs = proj.join(F.broadcast(cands), "vec_id").select(
        "vec_id", "score", "pvec"
    )
    out = mmr_rerank(
        with_vecs, qvec, k=10, lam=0.6, id_col="vec_id", vec_col="pvec"
    )
    rows = out.collect()
    emb.unpersist()
    proj.unpersist()
    return local_df(spark, rows, out.schema)


def x_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality gate end to end (operators/classifier.py):
    hashed-BoW featurize (narrow, content-addressed buckets) → full-batch
    logistic-regression GD on a deterministic 1/4 training sample (one
    aggregate pass per iteration, weights ride as packed literals) →
    score the FULL corpus as a pure projection. Output: per-source mean
    score + accuracy on a token-derived label (does the doc mention
    'vector') — learnable from hashed BoW, so the accuracy column is the
    training sanity signal (contract-tested in test_classifier.py on a
    separable corpus)."""
    from ..operators.classifier import (
        hashed_features_np,
        logreg_score,
        train_logreg,
    )

    # Arrow-kernel featurizer (hashed_features_np — ≡ the certified
    # Catalyst fold, test-pinned), featurized ONCE and persisted: the GD
    # iterations and the final scoring pass all read the cached features.
    par = spark.sparkContext.defaultParallelism
    docs = (
        load(spark, sf_dir, "documents")
        .repartition(par)
        .select(
            "doc_id",
            "source",
            F.array_contains(F.split("text", " "), "vector").cast("int").alias("label"),
            hashed_features_np("text", 64).alias("feat"),
        )
        .persist()
    )
    train = docs.filter(F.col("doc_id") % 4 == 0)
    model = train_logreg(train, n_buckets=64, lr=8.0, n_iter=6)
    scored = docs.select(
        "source",
        "label",
        logreg_score(model, "feat").alias("p"),
    )
    out = scored.groupBy("source").agg(
        F.round(F.avg("p"), 6).alias("mean_score"),
        F.round(
            F.avg(((F.col("p") > 0.5).cast("int") == F.col("label")).cast("double")),
            6,
        ).alias("accuracy"),
    )
    rows = out.collect()
    docs.unpersist()
    return local_df(spark, rows, out.schema)


def x_quality_classifier_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLE-FIT tier of the quality gate (train_logreg's
    ``sample_mod`` — the x768_kmeans rule applied to the classifier):
    gradient passes scan a deterministic 1/16 slice instead of the whole
    featurized corpus; only the final scoring projection touches every
    row. Bench-paired with ``x_quality_classifier`` (full-corpus-sample
    fit) so the fit-cost difference is a recorded number; model parity
    with a pre-filtered full-batch fit is pinned in
    tests/test_classifier.py."""
    from ..operators.classifier import (
        hashed_features_np,
        logreg_score,
        train_logreg,
    )

    par = spark.sparkContext.defaultParallelism
    docs = (
        load(spark, sf_dir, "documents")
        .repartition(par)
        .select(
            "doc_id",
            "source",
            F.array_contains(F.split("text", " "), "vector").cast("int").alias("label"),
            hashed_features_np("text", 64).alias("feat"),
        )
        .persist()
    )
    model = train_logreg(docs, n_buckets=64, lr=8.0, n_iter=6, sample_mod=16)
    scored = docs.select(
        "source",
        "label",
        logreg_score(model, "feat").alias("p"),
    )
    out = scored.groupBy("source").agg(
        F.round(F.avg("p"), 6).alias("mean_score"),
        F.round(
            F.avg(((F.col("p") > 0.5).cast("int") == F.col("label")).cast("double")),
            6,
        ).alias("accuracy"),
    )
    rows = out.collect()
    docs.unpersist()
    return local_df(spark, rows, out.schema)


def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training end to end: corpus → build_vocab (one
    token-stream aggregate) → 12 merges learned over the vocab table
    through the BATCHED selector (round-13: ``bpe_train_batched`` —
    exactness-proved prefix batching, one TakeOrderedAndProject
    round-trip selects several merges where the sequential trainer paid
    one argmax job each; measured 13.8 s → 8.1 s same-window at sf0.1,
    merge list identical — the parity the batched trainer's tests pin).
    Output: the learned merge table."""
    from ..operators.bpe import bpe_train_batched
    from ..operators.textstats import build_vocab

    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs)
    merges = bpe_train_batched(vocab, 12, count_col="n_occurrences")
    return local_df(spark, 
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


def x_bpe_train_local100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-merge-count BPE: corpus → build_vocab (the ONLY
    corpus-sized stage) → 100 merges learned driver-side over the
    collected vocabulary (``bpe_train_local`` — incremental pair counts,
    parity-pinned to the distributed trainer). The round-5 verdict's
    per-merge record: x_bpe_train pays ~0.2 s of Spark jobs PER MERGE
    (12 merges ≈ 2.2 s); this entry does 100 merges in roughly the same
    wall because the merge loop leaves Spark entirely — sub-linear wall
    vs merge count is the whole point of the tier."""
    from ..operators.bpe import bpe_train_local
    from ..operators.textstats import build_vocab

    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs)
    merges = bpe_train_local(vocab, 100, count_col="n_occurrences")
    return local_df(spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


# vocab rows for the 10k-merge BPE pair, built once per process: the
# synthetic corpus has only 31 distinct tokens (a 10k-merge train
# exhausts at ~107), so these entries derive a REALISTIC 27k-word
# vocabulary from corpus 3-gram compounds ('tok_tok_tok') — deterministic,
# corpus-derived, Zipf-ish. Cached so the timed passes measure TRAINING
# (resp. SEGMENTATION), not the vocabulary build.
_BPE10K_STATE: dict[str, tuple] = {}


def _bpe10k_vocab_rows(spark: SparkSession, sf_dir: str) -> list:
    if sf_dir not in _BPE10K_STATE:
        from pyspark.sql import Window

        docs = load(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t")
        ).filter(F.col("t") != "")
        w = Window.partitionBy("doc_id").orderBy("pos")
        comp = tok.select(
            F.concat_ws(
                "_", "t", F.lead("t", 1).over(w), F.lead("t", 2).over(w)
            ).alias("token"),
            F.lead("t", 2).over(w).alias("_ok"),
        ).filter(F.col("_ok").isNotNull())
        # corpus-derived vocabulary: bounded like every other driver-side
        # collect (round-8 ADVICE — this was the last raw unbounded
        # .collect() over a frame that scales with sf); 2M distinct
        # compounds is far past anything the bench corpus produces and
        # still driver-sized
        from ..session import collect_bounded

        rows = collect_bounded(
            comp.groupBy("token").agg(F.count(F.lit(1)).alias("count")),
            2_000_000,
            "bpe10k compound vocabulary",
        )
        _BPE10K_STATE[sf_dir] = (rows, None)
    return _BPE10K_STATE[sf_dir][0]


def x_bpe_train_local10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production merge count for the local BPE tier (round-6 verdict #4):
    10,000 merges over the 27k-word compound vocabulary. The round-7
    lazy-max-heap argmax makes this ~0.5 ms/merge — the naive
    full-pair-scan argmax was O(live pairs) per merge and would have put
    10k merges at minutes, invisible at the 100-merge bench."""
    from ..operators.bpe import bpe_train_local

    rows = _bpe10k_vocab_rows(spark, sf_dir)
    vocab = local_df(spark, rows, "token string, count bigint")
    merges = bpe_train_local(vocab, 10_000)
    _BPE10K_STATE[sf_dir] = (rows, merges)
    return local_df(spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


def x_bpe_segment10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow segmenter under a LEARNED 10k-merge table (round-6
    verdict #4): segment the DISTINCT vocabulary (27k words — the
    production shape: segmentation is per-word, so dedup-then-broadcast
    beats per-occurrence work) and expand to corpus token counts by the
    occurrence weights. Pins the rank-skipping rewrite: the naive
    all-rules-per-word loop took 274 s on this input; rank skipping is
    O(word_len²) independent of table size."""
    from ..operators.bpe import bpe_segment_udf, bpe_train_local

    rows = _bpe10k_vocab_rows(spark, sf_dir)
    vocab = local_df(spark, rows, "token string, count bigint")
    merges = _BPE10K_STATE[sf_dir][1]
    if merges is None:
        merges = bpe_train_local(vocab, 10_000)
        _BPE10K_STATE[sf_dir] = (rows, merges)
    seg = vocab.withColumn("bpe", bpe_segment_udf(merges)(F.col("token")))
    return seg.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.size("bpe") * F.col("count")).alias("corpus_bpe_tokens"),
    )


def x_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index phrase search over the documents table:
    posexplode → broadcast (term, offset) join → anchor vote →
    all-offsets-present aggregate. DuckDB value parity is unit-pinned
    (test_phrase_match_duckdb_parity)."""
    from ..operators.retrieval import phrase_match_counts

    docs = load(spark, sf_dir, "documents")
    first = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .orderBy("doc_id")
        .first()
    )
    phrase = [t for t in first["text"].split(" ") if t][:3] if first else ["∅"]
    return phrase_match_counts(docs, phrase).orderBy("doc_id")


def x_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification over a distributed top-N: TakeOrderedAndProject
    produces 50 candidates (the only corpus-sized stage), then the greedy
    λ-tradeoff re-rank runs driver-side over that bounded list — the
    standard near-duplicate-corpus fix the reference's raw Qdrant ranking
    lacks (qdrant.py:201-205 returns limit= order as-is)."""
    from ..functions.vector import cosine_similarity
    from ..operators.retrieval import mmr_rerank
    from ..operators.topk import top_k

    emb = load(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.col("embedding"),
        cosine_similarity("embedding", array_lit(QUERY_VEC)).alias("score"),
    )
    cands = top_k(scored, "score", 50, tiebreak=["vec_id"])
    return mmr_rerank(cands, QUERY_VEC, k=10, lam=0.6, id_col="vec_id", vec_col="embedding")


def x_gopher_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-materialization throughput of the Gopher rule panel (q28's
    bench action is a count, which prunes the projection; the aggregate
    here forces every signal to compute): one Arrow gram-stats kernel +
    the narrow word/line rules over the whole corpus."""
    from ..operators.textstats import gopher_panel

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    panel = gopher_panel(d)
    milli_cols = [c for c in panel.columns if c.endswith("_milli")]
    return panel.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
        *[F.sum(c).alias(f"sum_{c}") for c in milli_cols],
    )


def x_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end to end at bench scale: one-pass hashed uni+bigram model
    fit (target = lang='en'), integer-fold scoring of the whole pool,
    Gumbel top-k selection — the fit job AND the scoring scan both run
    inside the timed window."""
    from ..operators.dsir import dsir_select

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return dsir_select(d, k=100, target_col=F.col("lang") == "en")


def x_cross_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serving: BM25 retrieves a wide candidate list (the only
    corpus-sized stage), the cross-encoder pair scorer re-ranks the
    bounded list in one Arrow batch — the precision tier between
    retrieval and MMR in the modern stack."""
    from ..operators.retrieval import bm25_rank, cross_encoder_rerank

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    cands = bm25_rank(docs, ("join", "hash", "window", "vector"), k=50).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    return cross_encoder_rerank(cands, "spark join strategies", k=10)


# A shipped tokenizer artifact (production pipelines train once, then
# tokenize forever): a fixed character-merge table over common English
# digraphs — the APPLY-side bench must time tokenization, not training
# (x_bpe_train times that).
_BPE_MERGES = [
    ("t", "h"), ("th", "e</w>"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("an", "d</w>"), ("e", "n"), ("o", "r"),
    ("s", "t"), ("a", "t"), ("e", "s</w>"), ("in", "g</w>"), ("o", "u"),
    ("l", "e"), ("a", "r"), ("er", "</w>"), ("c", "h"), ("o", "w"),
    ("s", "e"), ("m", "a"), ("d", "e"), ("t", "o"),
]


def x_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale TOKENIZATION with a shipped merge table — the apply
    side of x_bpe_train (pipelines tokenize far more often than they
    train): the whole corpus segments through the Arrow-batched
    rank-greedy kernel; output is the per-source BPE token count (forces
    every row through the tokenizer)."""
    from ..operators.bpe import bpe_segment_udf

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    seg = bpe_segment_udf(_BPE_MERGES)
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tok.withColumn("bpe", seg(F.col("token")))
        .groupBy("source")
        .agg(F.sum(F.size("bpe")).alias("n_bpe_tokens"))
    )


def x_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source CORPUS DATA CARD in one plan — the summary table a
    curation run publishes: doc counts, Gopher pass rate, quality and
    perplexity means, dedup pressure (docs sharing an exact content key),
    and token mass. Composes only certified signals (gopher_panel,
    quality_score, bigram LM, md5 content keys, bpe_token_count); the
    wide ops are ONE groupBy(source) plus the LM/dup aggregates each
    query already carries."""
    from ..operators.lm import bigram_perplexity, train_bigram_lm
    from ..operators.textstats import bpe_token_count, gopher_panel, quality_score

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    panel = gopher_panel(quality_score(docs))
    c_big, c_uni, vsz = train_bigram_lm(docs)
    ppl = bigram_perplexity(docs, c_big, c_uni, vsz).select("doc_id", "ppl")
    dup_n = docs.groupBy(F.md5("text").alias("_ck")).agg(
        F.count(F.lit(1)).alias("_n_copies")
    )
    enriched = (
        panel.join(ppl, "doc_id", "left")
        .withColumn("_ck", F.md5("text"))
        .join(dup_n, "_ck")
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("gopher_pass").cast("double")).alias("gopher_pass_rate"),
        F.avg("quality_milli").alias("mean_quality_milli"),
        F.avg("ppl").alias("mean_ppl"),
        F.sum((F.col("_n_copies") > 1).cast("long")).alias("n_exact_dup_docs"),
        F.sum(bpe_token_count("text")).alias("total_bpe_tokens"),
    )


def _x_gate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions import gate_audit_report

    return gate_audit_report(spark, sf_dir)


def _x_ihist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .coverage import ihist_token_percentiles

    return ihist_token_percentiles(spark, sf_dir)


def _x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_pack import pagerank_report

    return pagerank_report(spark, sf_dir)


def _x_lexical_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup_pack import lexical_cc_report

    return lexical_cc_report(spark, sf_dir)


def _x_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import pq_adc_report

    return pq_adc_report(spark, sf_dir)


def _x_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_pipeline import exact_substr_spans_report

    return exact_substr_spans_report(spark, sf_dir)


def _x_quality_classifier_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions import quantized_classifier_report

    return quantized_classifier_report(spark, sf_dir)


def _x_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions import media_decode_report

    return media_decode_report(spark, sf_dir)


def _x_media_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extensions import media_av_report

    return media_av_report(spark, sf_dir)


BENCH_EXTRAS = {
    "x_curation_report": x_curation_report,
    "x_gopher_panel": x_gopher_panel,
    # round-7 demoted registry arms keep their bench numbers here (the
    # amortization policy): q41 'audit', q46 'sketch', q53 'pagerank'
    "x_gate_audit": _x_gate_audit,
    "x_ihist_quantiles": _x_ihist_quantiles,
    "x_pagerank": _x_pagerank,
    # round-8 demoted arms: q53 'lexical' CC, q47 'pq'
    "x_lexical_cc": _x_lexical_cc,
    "x_pq_adc": _x_pq_adc,
    # round-9 demoted arms: q16 'span' ExactSubstr, q28 quantized classifier
    "x_exact_substr_spans": _x_exact_substr_spans,
    "x_quality_classifier_quantized": _x_quality_classifier_quantized,
    # round-10 demoted arms: q42 'decode'/'resize' PPM pixel decode + resize
    "x_media_decode": _x_media_decode,
    # round-11 demoted arms: q42 'audio'/'video' whole-clip WAV/Y4M decodes
    "x_media_av": _x_media_av,
    "x_dsir_select": x_dsir_select,
    "x_cross_rerank": x_cross_rerank,
    "x_bpe_segment": x_bpe_segment,
    "x768_topk_cosine": x768_topk_cosine,
    "x768_topk_cosine_np": x768_topk_cosine_np,
    "x768_mean_pool": x768_mean_pool,
    "x768_kmeans": x768_kmeans,
    "x768_kmeans_join_assign": x768_kmeans_join_assign,
    "x768_assign_np": x768_assign_np,
    "x768_multiq": x768_multiq,
    "x768_multiq_np": x768_multiq_np,
    "x768_encode_search": x768_encode_search,
    "x_pq_search": x_pq_search,
    "x_semdedup": x_semdedup,
    "x_mmr_rerank": x_mmr_rerank,
    "x768_pca_whiten": x768_pca_whiten,
    "x768_pca_search": x768_pca_search,
    "x768_serving_stack": x768_serving_stack,
    "x_phrase_search": x_phrase_search,
    "x_bpe_train": x_bpe_train,
    "x_bpe_train_local100": x_bpe_train_local100,
    "x_bpe_train_local10k": x_bpe_train_local10k,
    "x_bpe_segment10k": x_bpe_segment10k,
    "x_quality_classifier": x_quality_classifier,
    "x_quality_classifier_sampled": x_quality_classifier_sampled,
}
