"""Structured-Streaming incremental ingest (SURVEY §2.9 X6).

Anchor: the reference's per-PMCID append path (S5/S7 —
``qdrant.py:102-104,149-175``) is one-article-at-a-time ingestion into the
same pipeline the bulk path uses. The Spark analog: a file-source stream
over an articles drop-zone runs the IDENTICAL batch transformations
(chunk → encode → mean-pool) per micro-batch, with ``foreachBatch``
doing the keyed parquet upsert.

Scale notes:
- File source with ``maxFilesPerTrigger`` bounds micro-batch size; at
  1000 executors the same code runs unchanged — checkpointing handles
  exactly-once per sink partition.
- Watermarked windowed aggregation (``windowed_event_counts``) is the
  late-data pattern: state is bounded by (watermark horizon × key
  cardinality); without the watermark, 100 TB of stream state OOMs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..encoder import encode_column
from ..operators.chunking import explode_chunks
from ..operators.pooling import mean_pool
from ..schemas import ARTICLES_SCHEMA
from ..session import local_df


def read_article_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """X6 — streaming source over a JSONL drop-zone of article records."""
    return (
        spark.readStream.schema(ARTICLES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def article_stream_to_chunks(
    articles_stream: DataFrame, encoder: str = "fake", dim: int | None = None
) -> DataFrame:
    """The same chunk→encode pipeline as batch ingest (SURVEY §3.2), applied
    to a stream — Structured Streaming runs these stateless narrow ops
    per micro-batch with no extra code. ``dim`` threads to the encoder
    (review find: without it encoder='sbert' always tripped the eager
    dim guard — the seam was unusable from the streaming path)."""
    from ..encoder import DEFAULT_DIM

    chunks = explode_chunks(articles_stream)
    return chunks.withColumn(
        "embedding",
        encode_column("paragraph", kind=encoder, dim=dim or DEFAULT_DIM),
    )


def start_ingest(
    spark: SparkSession,
    source_path: str,
    chunks_path: str,
    doc_vectors_path: str,
    checkpoint_path: str,
    encoder: str = "fake",
    partition_buckets: int | None = None,
    dim: int | None = None,
):
    """X6 — end-to-end incremental ingest: stream → chunks + doc_vectors
    parquet, exactly-once RESULTS via checkpoint + idempotent keyed
    upsert (``foreachBatch`` replays whole batches at-least-once across
    crashes; a plain append sink would duplicate every replayed row —
    the keyed merge keeps one row per chunk_id/doc_pk no matter how many
    times a batch re-applies, the ``start_stream_upsert`` law).

    ``foreachBatch`` gives us the batch DataFrame API (mean_pool needs a
    full groupBy) — the standard pattern for sinks that need batch-only
    operations.

    ``partition_buckets`` switches both sinks to the bucket-partitioned
    upsert (catalog.upsert_parquet(n_buckets=...)): each micro-batch then reads
    and rewrites only the article-id buckets it touches instead of the
    whole table — the difference between O(batch) and O(table) per
    trigger, i.e. the 100 TB streaming-ingest shape. Chunks bucket on
    ``article_id`` (the group key — chunk_id is derived from it, so the
    per-key-stable-bucket invariant holds), doc vectors on their
    ``article_id`` key."""
    from ..encoder import DEFAULT_DIM
    from ..sources.catalog import upsert_parquet

    stream = read_article_stream(spark, source_path)
    width = dim or DEFAULT_DIM

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # same transform as the streaming-side article_stream_to_chunks —
        # call it so the two paths cannot drift
        chunks = article_stream_to_chunks(batch_df, encoder=encoder, dim=width)
        chunks.persist()
        try:
            # group-replacing, like the batch twin (api.upload_articles):
            # a keyed upsert alone cannot delete, so a re-dropped
            # SHORTENED article would leave its removed paragraphs
            # searchable while the doc vector reflects the new text —
            # permanent chunk/doc skew
            upsert_parquet(
                spark,
                chunks,
                chunks_path,
                key_cols=["chunk_id"],
                replace_group_col="article_id",
                n_buckets=partition_buckets,
            )
            # the batch twin's length guard, at the width encoded above
            vecs = mean_pool(
                chunks, group=["article_id"], vec_col="embedding", dim=width
            )
            # keyed on article_id (the batch twin's key): keying on the
            # xxhash64 doc_pk made a 64-bit collision silently replace
            # another article's vector; doc_pk still rides along as payload
            upsert_parquet(
                spark,
                vecs.withColumn("doc_pk", F.xxhash64("article_id")),
                doc_vectors_path,
                key_cols=["article_id"],
                n_buckets=partition_buckets,
            )
        finally:
            # try/finally (round-8 verdict #2): a failed upsert followed
            # by the sink's retry otherwise re-persists a fresh frame
            # each attempt and accretes storage across replays
            chunks.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_first_seen_dedup(
    articles_stream: DataFrame, key_col: str = "article_id"
) -> DataFrame:
    """X1-on-a-stream — custom stateful operator via
    ``applyInPandasWithState``: emit each key's FIRST occurrence across the
    whole stream, drop every later duplicate (the streaming twin of the
    reference's content-keyed idempotent upsert, qdrant.py:137-139,159 —
    there re-uploads overwrite; here they never reach the sink at all).

    State per key = one long (n occurrences seen) — bounded by key
    cardinality, not stream length; at 100 TB add a state-store TTL
    (GroupStateTimeout) if keys are unbounded. Rows within a micro-batch
    are sorted before picking the survivor so the emitted row is
    deterministic. Output schema == input schema.
    """
    out_schema = articles_stream.schema
    state_schema = T.StructType([T.StructField("n_seen", T.LongType())])
    cols = [f.name for f in out_schema.fields]

    # Self-contained closure (cloudpickled by value — no package import on
    # the executors, same rule as every UDF in this package).
    def _dedup(key, pdfs, state):
        import pandas as _pd

        n_before = state.get[0] if state.exists else 0
        batch = _pd.concat(list(pdfs), ignore_index=True)
        n_new = len(batch)
        if n_before == 0 and n_new > 0:
            first = batch.sort_values(by=cols, key=lambda s: s.astype(str)).head(1)
            yield first
        state.update((n_before + n_new,))

    return articles_stream.groupBy(key_col).applyInPandasWithState(
        _dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_near_dup_candidates(
    doc_stream: DataFrame,
    corpus_band_keys: DataFrame,
    id_col: str = "article_id",
    text_col: str = "abstract_text",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """X2-on-a-stream — incoming documents checked for near-duplication
    against a STATIC corpus via a stream-static equi-join (the Structured
    Streaming join mode that needs no state: each micro-batch row probes
    the static side and is done).

    The stream side computes MinHash band keys as pure per-row
    expressions (``minhash_band_keys`` is fully narrow, so it runs
    unchanged on a streaming DataFrame); ``corpus_band_keys`` is the
    SAME operator's output over the at-rest corpus, materialized once
    (at 100 TB: parquet bucketed by (band, band_key), so the probe join
    is co-located and the corpus is never re-shingled per batch).

    Emits (incoming_id, corpus_id, band, band_key) — append-mode safe
    (no aggregation; one row per matching band). Exact-Jaccard verify
    and per-pair dedup belong in ``foreachBatch`` where the batch API's
    aggregate (``near_dup_minhash``'s verify stage) is available —
    candidates are a vanishing fraction of the stream, so the verify is
    candidate-sized, not corpus-sized."""
    from ..operators.dedup import minhash_band_keys

    probe = minhash_band_keys(
        doc_stream, id_col, text_col, n_hashes, bands, shingle_n
    ).select(F.col("_id").alias("incoming_id"), "band", "band_key")
    corpus = corpus_band_keys.select(
        F.col("_id").alias("corpus_id"), "band", "band_key"
    )
    return probe.join(corpus, ["band", "band_key"]).select(
        "incoming_id", "corpus_id", "band", "band_key"
    )


def stream_stream_click_attribution(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    max_lag: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """X6 — watermarked STREAM-STREAM interval join (the join mode with
    two unbounded sides): attribute each purchase to the same user's
    clicks in the preceding ``max_lag``. Both sides carry watermarks plus
    the time-interval predicate, so Spark can bound the buffered state to
    the watermark horizon — without them a stream-stream join must hold
    every past row forever (the join-state analog of the unbounded-agg
    OOM). Inner join: drained output equals the batch join exactly (the
    watermark governs state eviction, not inner-join emission).

    Input streams: (user_id, ts, value). Output: one row per qualifying
    (purchase, click) pair."""
    c = clicks_stream.withWatermark("ts", watermark_delay).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    p = purchases_stream.withWatermark("ts", watermark_delay).select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return p.join(
        c,
        F.expr(
            f"user_id = c_user AND click_ts >= purchase_ts - INTERVAL {max_lag} "
            "AND click_ts <= purchase_ts"
        ),
    ).select(
        "user_id", "purchase_ts", "purchase_value", "click_ts", "click_value"
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """X6 — watermarked tumbling-window aggregation over an event stream
    (ts, event_type, value): the bounded-state late-data pattern."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_events(
    events_stream: DataFrame,
    gap: str = "8 hours",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """X6 — watermarked gap-sessionization (session_window) per user.

    The streaming twin of q58: sessions close when the watermark passes
    last_event + gap, so state per user is bounded by the open session +
    watermark horizon. Works unchanged on a batch DataFrame (the watermark
    is a no-op there) — the parity test drains a file stream and checks
    equality with the batch run."""
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy("user_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_ivf_append(
    vec_stream: DataFrame,
    centroids,
    index_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """X3×X6 — incremental ANN index maintenance: a stream of newly
    embedded vectors is absorbed into the partition-pruned IVF layout.

    Each incoming vector is tagged with its inverted-list id by
    ``nearest_centroid`` — a pure narrow expression with the centroids
    riding by value (no broadcast, no state, append-mode trivially) —
    and written through the streaming parquet sink with
    ``partitionBy(cluster_id)``. The sink's manifest log + checkpoint
    give exactly-once file commits, so replays never duplicate vectors.

    Query-time probing stays parquet partition pruning as the index
    grows (``ivf_topk`` over the directory reads only the probed lists'
    partitions — the same PartitionFilters contract the batch-built
    index is tested for). Re-clustering cadence is an offline concern:
    when drift accumulates, re-run ``lloyd_kmeans`` on a sample and
    rewrite — the append path is unchanged because centroids ride by
    value.

    Returns the started StreamingQuery (availableNow trigger — drains
    what exists, then stops; swap for a processingTime trigger in a
    long-lived deployment)."""
    from ..operators.clustering import nearest_centroid

    tagged = vec_stream.withColumn(
        "cluster_id", nearest_centroid(vec_col, centroids)
    )
    return (
        tagged.writeStream.format("parquet")
        .option("path", index_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cluster_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _fold_sketch_batch(
    spark: SparkSession, sketch_dir: str, suffix: str, batch_sketch, merge_fn
) -> None:
    """Shared fold step for the mergeable-sketch streaming sinks (CMS and
    Bloom): merge the batch's sketch into the durable table and commit
    atomically. The discipline, in order:

    1. Crash recovery FIRST: a previous fold that died between its commit
       renames left the live dir absent with the prior sketch in
       ``.{suffix}.old`` — restore it, or the existence check below would
       read "absent" and reset the accumulated state.
    2. EXPLICIT existence check — a bare try/except would turn a
       TRANSIENT read failure (storage hiccup mid-stream) into a silent
       reset; only a genuinely absent table may start fresh, every other
       error must surface and fail the batch so the trigger retries it.
    3. Driver-side copy before the replace: the sketch is driver-sized BY
       CONSTRUCTION, and persist is NOT a guard — evicted blocks would
       recompute from deleted files (see upsert_parquet).
    4. Commit via staging + rename, never mode('overwrite') on the live
       dir: overwrite deletes-then-writes, so a crash in between leaves
       the dir absent/partial and the RETRIED batch would treat it as a
       fresh table. With rename-as-commit the prior sketch survives any
       mid-write crash.
    """
    from ..sources.catalog import _hadoop_fs

    fs, hpath, jvm = _hadoop_fs(spark, sketch_dir)
    P = jvm.org.apache.hadoop.fs.Path
    base = sketch_dir.rstrip("/")
    staging_p, old_p = P(f"{base}.{suffix}.staging"), P(f"{base}.{suffix}.old")
    if fs.exists(old_p):
        if not fs.exists(hpath):
            fs.rename(old_p, hpath)
        else:
            fs.delete(old_p, True)
    if fs.exists(staging_p):  # stale staging from an aborted write
        fs.delete(staging_p, True)
    if fs.exists(hpath):
        merged = merge_fn(spark.read.parquet(sketch_dir), batch_sketch)
    else:
        merged = batch_sketch
    from ..session import collect_bounded

    # driver-sized BY CONSTRUCTION (sketch cells) — fenced anyway (the
    # k-sized-collect rule; a caller wiring a data-sized frame through
    # the sketch sink gets a named error, not a driver OOM)
    rows = collect_bounded(merged, 1_048_576, "streaming sketch cells")
    local_df(spark, rows, merged.schema).write.mode("overwrite").parquet(
        staging_p.toString()
    )
    if fs.exists(hpath):
        fs.rename(hpath, old_p)
    fs.rename(staging_p, hpath)
    fs.delete(old_p, True)


def start_stream_cms(
    token_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    key_col: str = "token",
    depth: int = 4,
    width: int = 256,
):
    """X6 twin of the count–min sketch: per-micro-batch sketches merged
    into a durable sketch table via ``foreachBatch`` — the mergeability
    property IS the streaming story (sketch state never grows past
    depth×width cells no matter how many distinct keys stream by,
    exactly the case where an exact streaming groupBy's state explodes).

    Each batch: build the batch's sparse sketch (one keyed aggregate over
    the batch), union with the table on disk, sum cells, atomically
    replace (``_fold_sketch_batch`` — recovery + rename-as-commit).
    Idempotent replays change nothing once a batch's counts are folded in
    IF the engine replays whole batches (foreachBatch is at-least-once
    across crashes mid-write; exact once-only folding needs a
    transactional sink — documented tradeoff, same as every foreachBatch
    aggregation).

    Drain ≡ batch equality is test-pinned (the parity suite's rule)."""
    from ..operators.sketch import cms_build, cms_merge

    spark = token_stream.sparkSession

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_sketch_batch(
            spark,
            sketch_dir,
            "cms",
            cms_build(batch_df, key_col, depth, width),
            cms_merge,
        )

    return (
        token_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stream_bloom(
    key_stream: DataFrame,
    bloom_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    n_words: int = 64,
    k: int = 4,
):
    """X6 twin of the Bloom membership sketch — the INCREMENTAL-INGEST
    memory: every batch folds its keys' bits into a durable word table
    (bit_or is the merge law, so fold order and replays don't matter:
    re-OR-ing a batch's bits is a no-op — this sink is idempotent under
    at-least-once replay WITHOUT a transactional ledger, stronger than
    the CMS fold's whole-batch-replay caveat). A later batch reads the
    words once (``bloom_literal``) and runs ``bloom_anti_join`` against
    history with constant-size state: the streaming dedup shape when the
    key set is too large for ``stream_first_seen_dedup``'s exact state.

    Same commit discipline as the CMS fold (``_fold_sketch_batch``)."""
    from ..operators.sketch import bloom_build, bloom_merge

    spark = key_stream.sparkSession

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_sketch_batch(
            spark,
            bloom_dir,
            "bloom",
            bloom_build(batch_df, key_col, n_words, k),
            bloom_merge,
        )

    return (
        key_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stream_ihist(
    value_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    value_col: str = "n",
    group_cols: tuple[str, ...] = (),
):
    """X6 twin of the integer log-histogram quantile sketch
    (operators/sketch.py ``ihist_*``) — streaming distribution profiling
    with CONSTANT state (≤ 488 cells per group whatever streams by): each
    micro-batch's histogram folds into the durable table by cell
    addition, the same mergeability law the batch twin pins
    (merge ≡ sketch-of-union). Quantile queries read the folded table
    through ``ihist_quantiles`` at any moment, with the same relative-
    error contract as the batch path.

    Same commit discipline and at-least-once caveat as the CMS fold
    (``_fold_sketch_batch`` — recovery + rename-as-commit; exact
    once-only folding would need a transactional sink)."""
    from ..operators.sketch import ihist_build, ihist_merge

    spark = value_stream.sparkSession

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_sketch_batch(
            spark,
            sketch_dir,
            "ihist",
            ihist_build(batch_df, value_col, group_cols),
            ihist_merge,
        )

    return (
        value_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stream_hll(
    key_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    m: int = 64,
):
    """X6 twin of the deterministic HLL cardinality sketch (round 9):
    every batch folds its keys' (register, rho) cells into a durable
    register table — MAX is the merge law, so fold order and replays
    don't matter (re-folding a batch is a no-op: max is idempotent, the
    bloom sink's stronger-than-CMS replay property). State is ≤ m cells
    however many distinct keys stream by — the distinct-count shape
    where an exact streaming countDistinct's state grows with the key
    set. ``hll_estimate`` reads the table whenever a number is needed.

    Same commit discipline as the CMS fold (``_fold_sketch_batch``)."""
    from ..operators.sketch import hll_build, hll_merge

    spark = key_stream.sparkSession

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_sketch_batch(
            spark,
            sketch_dir,
            "hll",
            hll_build(batch_df, key_col, m),
            hll_merge,
        )

    return (
        key_stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stream_upsert(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str | None = None,
    partition_buckets: int | None = None,
    allow_schema_evolution: bool = False,
):
    """X6 — streaming KEYED UPSERT sink: each micro-batch merges into the
    parquet table through ``sources/catalog.upsert_parquet`` (new rows
    win per key; ``version_col`` breaks in-batch duplicate keys — without
    it callers must guarantee key-unique batches, or the surviving
    duplicate is arbitrary).

    Delivery semantics, precisely: ``foreachBatch`` replays whole batches
    at-least-once across crashes, but keyed upsert is IDEMPOTENT — merging
    the same batch twice leaves the table identical (the window keeps one
    row per key either way) — so replays converge to exactly-once RESULTS
    without a transactional ledger. This is the sink tier the streaming
    CMS fold couldn't have for free (its fold is additive, not
    idempotent; it documents the tradeoff — here the merge law does the
    work). Crash-mid-write safety comes from upsert_parquet's commit log:
    a crash before the publish leaves the last version intact, and the
    replayed batch converges. Drain ≡ batch-upsert parity and
    double-apply idempotence are test-pinned.

    ``partition_buckets`` selects the bucket-partitioned layout — each
    micro-batch merges only the key buckets it touches (O(batch) per
    trigger instead of O(table); crash-replay convergence argument in
    the catalog module docstring). ``allow_schema_evolution`` passes
    through to the merge (table-sticky once stamped — see
    upsert_parquet); a structured stream's own schema is fixed at start,
    so this matters when the SINK table predates the stream with a
    narrower or wider schema."""
    from ..sources.catalog import upsert_parquet

    spark = stream_df.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(
            spark, batch_df, table_dir, key_cols, version_col,
            n_buckets=partition_buckets,
            allow_schema_evolution=allow_schema_evolution,
        )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
