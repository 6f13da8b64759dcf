"""Coverage queries for Spark-SQL surface the reference lacks but our
engine exposes (SURVEY §2.10 "explicit absences" — window/tumbling aggs,
grouping sets, set ops, as-of joins). Each certifies the Spark plan shape
AND the DuckDB-matched semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import load, register

# ---------------------------------------------------------------------------
# Tumbling time window (the streaming windowed-agg shape, X6, in batch
# form — F.window's aligned hour buckets == date_trunc).


@register(
    "q32_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    survey_rows="X6 (windowed agg, batch twin), A1",
)
def q32_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP / grouping sets (free via Spark SQL; absent in reference §2.10).


@register(
    "q33_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_rows="§2.10 exposure: grouping sets / rollup",
)
def q33_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Set operations (INTERSECT / EXCEPT — absent in reference §2.10).


@register(
    "q34_set_ops",
    """
    SELECT 'both' AS tag, n_nationkey AS nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS tag, n_nationkey FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
    survey_rows="§2.10 exposure: INTERSECT/EXCEPT",
)
def q34_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = c.intersect(s).select(F.lit("both").alias("tag"), "nationkey")
    only = c.exceptAll(s).select(F.lit("customer_only").alias("tag"), "nationkey")
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# As-of join (absent in reference §2.10; a core time-series EXT), BOTH
# directions in one tagged query: backward = for each purchase, the latest
# click by the same user at-or-before the purchase timestamp (the
# trades/quotes shape); forward = the first click within 1 hour AFTER it
# (tolerance folded in).
#
# Spark shape (operators/asof.py) — union + carry-forward window, NOT an
# inequality join: tag both sides, union, and take last(payload,
# ignorenulls) over (user ORDER BY ts) rows-unbounded-preceding. ONE
# shuffle on user_id per direction, one sort, zero join blowup — an
# inequality join materializes |purchases|×|clicks| per user before
# pruning, which dies on hot users at 100 TB; this shape is linear and
# AQE-skew-splittable. The oracle is the inequality-join + rn=1 rewrite.


@register(
    "q35_asof_join",
    """
    SELECT 'backward' AS direction,
           purchase_id, user_id, purchase_ts, asof_ts, asof_event_id, asof_value
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
             row_number() OVER (
               PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
             ) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    UNION ALL
    SELECT 'forward' AS direction,
           purchase_id, user_id, purchase_ts, asof_ts, asof_event_id, asof_value
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
             c.ts AS asof_ts, c.event_id AS asof_event_id, c.value AS asof_value,
             row_number() OVER (
               PARTITION BY p.event_id ORDER BY c.ts ASC, c.event_id ASC
             ) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts >= p.ts
           AND c.ts <= p.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
    survey_rows="§2.10 exposure: generalized as-of join (backward + forward"
    " with tolerance, single-shuffle union-and-carry)",
)
def q35_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )

    def one(direction: str, tolerance) -> DataFrame:
        out = asof_join(
            purchases, clicks, ["user_id"], direction=direction, tolerance=tolerance
        )
        return out.select(
            F.lit(direction).alias("direction"),
            "purchase_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "asof_ts",
            "asof_event_id",
            "asof_value",
        )

    return one("backward", None).unionByName(
        one("forward", F.expr("INTERVAL 1 HOUR"))
    )


# ---------------------------------------------------------------------------
# Snowflake multi-way join: part → lineitem ← supplier → nation → region,
# revenue by region × brand. Exercises Catalyst join reordering with every
# dim broadcast — the fact table shuffles ZERO times before aggregation.


@register(
    "q40_snowflake_join",
    """
    SELECT r.r_name AS region_name,
           p.p_brand AS brand,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size <= 20
    GROUP BY r.r_name, p.p_brand
    """,
    survey_rows="§2.8 joins (multi-way snowflake, broadcast dims), A1",
)
def q40_snowflake_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy(
        F.col("r_name").alias("region_name"), F.col("p_brand").alias("brand")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation — the portable form of PIVOT): events
# fanned out to one column per event_type. Single hash aggregate.


@register(
    "q44_pivot_events",
    """
    SELECT user_id % 100 AS user_bucket,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'view')     AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           CAST(sum(CAST(value AS DECIMAL(18,6)))
                FILTER (event_type = 'purchase') AS DOUBLE) AS purchase_value
    FROM events
    GROUP BY user_id % 100
    """,
    survey_rows="§2.10 exposure: pivot via conditional aggregation",
)
def q44_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy((F.col("user_id") % 100).alias("user_bucket")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            )
        )
        .cast("double")
        .alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Sketch tier in ONE tagged union: the HLL++ cardinality sketch and the
# count–min frequency sketch.
#
# HLL arm: at 100 TB, exact count-distinct of a high-cardinality key is a
# full shuffle; the sketch is a map-side-mergeable fixed-size state.
# Spark's HLL++ and DuckDB's HLL give DIFFERENT estimates (different
# implementations), so the oracle contract is the boolean "estimate within
# 5% of exact" — which must hold in BOTH engines — plus the exact count.
#
# CMS arm: the count–min sketch (operators/sketch.py) is content-addressed
# (md5-derived bucket hashes), so the two engines build BIT-IDENTICAL
# depth×width tables — the oracle recomputes every cell of the sketch of
# the events.user_id stream. A value match certifies the bucket hash, the
# explode/partial-aggregate build, and the cell counts.
#
# Bloom arm: the membership sketch (bloom_build) is content-addressed the
# same way, so the oracle recomputes every 32-bit word of the user_id
# Bloom filter — certifying the bit positions, the pow-mask build, and
# the bit_or fold that bloom_anti_join's no-false-negative prefilter
# rests on. Word values reuse the cms_cnt column (kind-tagged union).

_CMS_DEPTH, _CMS_WIDTH = 4, 64
_BLOOM_WORDS, _BLOOM_K = 16, 4


@register(
    "q45_cardinality_sketch",
    f"""
    WITH hx AS (
      -- the deterministic HLL's hash split (round-9): 32-bit md5
      -- prefix, register = h % 64, value = the remaining 26 bits,
      -- rho = 27 - bitlength(value) (bin() has identical no-padding
      -- semantics in both engines; value = 0 -> bitlength 0 -> rho 27)
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#hll'),
                                  1, 8)) AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    hreg AS (
      SELECT event_type, CAST(h % 64 AS INT) AS register,
             max(27 - (CASE WHEN h // 64 = 0 THEN 0
                            ELSE length(bin(h // 64)) END)) AS rho
      FROM hx GROUP BY 1, 2
    ),
    hest AS (
      SELECT event_type,
             sum(pow(2.0, -rho)) + (64 - count(*)) AS s,
             CAST(64 - count(*) AS DOUBLE) AS v
      FROM hreg GROUP BY 1
    )
    SELECT 'hll' AS kind,
           event_type,
           count(DISTINCT user_id) AS n_exact,
           abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
             <= 0.05 * count(DISTINCT user_id) AS approx_within_5pct,
           CAST(NULL AS INT) AS cms_row,
           CAST(NULL AS INT) AS cms_bucket,
           CAST(NULL AS BIGINT) AS cms_cnt,
           CAST(NULL AS DOUBLE) AS hll_est
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT 'hllx' AS kind, event_type,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BOOLEAN) AS approx_within_5pct,
           register AS cms_row,
           CAST(NULL AS INT) AS cms_bucket,
           CAST(rho AS BIGINT) AS cms_cnt,
           CAST(NULL AS DOUBLE) AS hll_est
    FROM hreg
    UNION ALL
    SELECT 'hllest' AS kind, event_type,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BOOLEAN) AS approx_within_5pct,
           CAST(NULL AS INT) AS cms_row,
           CAST(NULL AS INT) AS cms_bucket,
           CAST(NULL AS BIGINT) AS cms_cnt,
           round(CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / s
                           <= 2.5 * 64.0 AND v > 0
                      THEN 64.0 * ln(64.0 / v)
                      ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 / s
                 END, 6) AS hll_est
    FROM hest
    UNION ALL
    -- 'hllstream' arm (round-10, verdict #4: one streaming sketch drain
    -- inside the certified lineage): the DISTINCT user_id keys re-entered
    -- as a 2-file stream (1 file per trigger → at least two micro-batches,
    -- so the foreachBatch MAX-fold really merges across batches), drained
    -- availableNow through start_stream_hll; the durable register
    -- table's READ-BACK is what this arm hashes. Expected state, stated
    -- directly: the UNGROUPED deterministic-HLL registers of the whole
    -- key set (fold ≡ batch build is the merge law).
    SELECT 'hllstream' AS kind,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BOOLEAN) AS approx_within_5pct,
           register AS cms_row,
           CAST(NULL AS INT) AS cms_bucket,
           CAST(rho AS BIGINT) AS cms_cnt,
           CAST(NULL AS DOUBLE) AS hll_est
    FROM (
      SELECT CAST(h % 64 AS INT) AS register,
             max(27 - (CASE WHEN h // 64 = 0 THEN 0
                            ELSE length(bin(h // 64)) END)) AS rho
      FROM hx GROUP BY 1
    )
    UNION ALL
    SELECT 'cms' AS kind,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BOOLEAN) AS approx_within_5pct,
           r AS cms_row,
           CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cms'
                                     || CAST(r AS VARCHAR)), 1, 8))
                     AS BIGINT) % {_CMS_WIDTH} AS INT) AS cms_bucket,
           CAST(COUNT(*) AS BIGINT) AS cms_cnt,
           CAST(NULL AS DOUBLE) AS hll_est
    FROM events, (VALUES (0), (1), (2), (3)) hashrows(r)
    GROUP BY 1, 2, 3, 4, 5, 6
    UNION ALL
    SELECT 'bloom' AS kind,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS BIGINT) AS n_exact,
           CAST(NULL AS BOOLEAN) AS approx_within_5pct,
           CAST(pos // 32 AS INT) AS cms_row,
           CAST(NULL AS INT) AS cms_bucket,
           CAST(bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS BIGINT) AS cms_cnt,
           CAST(NULL AS DOUBLE) AS hll_est
    FROM (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#bf'
                                   || CAST(r AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_BLOOM_WORDS * 32} AS pos
      FROM events, (VALUES (0), (1), (2), (3)) h(r)
    )
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
    survey_rows="§2.10 exposure: HLL cardinality sketch — BUILT-IN "
    "approx_count_distinct tolerance-checked ('hll' arm) PLUS the "
    "round-9 deterministic md5-derived HLL whose REGISTERS are "
    "bit-identical cross-engine ('hllx' arm — the cells-are-the-"
    "contract construction the CMS/bloom tiers use) and whose estimator "
    "is a pure function of them ('hllest' arm: harmonic mean + "
    "small-range correction, value-hashed; the 2^-rho register sum is "
    "EXACT in float64 so summation order cannot move it), "
    "A2 + X4 count-min frequency sketch (bit-identical cross-engine "
    "cells) + X1 Bloom membership sketch "
    "(bit-identical words; the incremental-ingest anti-join prefilter, "
    "bloom_anti_join ≡ exact left_anti property-pinned) + X6 streaming "
    "HLL drain (round-10: start_stream_hll availableNow over a 2-file/"
    "1-per-trigger DISTINCT-key stream — the multi-micro-batch "
    "foreachBatch MAX-fold's durable register table READ-BACK "
    "driver-hashed; the streaming sketch tier joins the certified "
    "lineage; round-11 trim: distinct keys shrink each fold ~66x, the "
    ">=2-batch merge guarantee unchanged)",
)
def q45_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.sketch import hll_build
    from ..session import local_df
    from ..sources.catalog import read_upsert_table
    from ..streaming.ingest import start_stream_hll

    e = load(spark, sf_dir, "events")
    # 'hllstream' arm (round-10): START the drain first — the
    # availableNow stream is asynchronous, so its two micro-batch folds
    # overlap the batch-arm construction below (the q62 early-start
    # pattern). The DISTINCT keys re-enter as a 2-file stream read 1
    # file per trigger (at least two micro-batches, so the foreachBatch
    # MAX-fold really merges across batches); the durable register
    # table's read-back through its commit log is collected (≤ m rows)
    # before the temp dir goes.
    base = tempfile.mkdtemp(prefix="pmc_hllstream_")
    try:
        keys_dir = os.path.join(base, "keys")
        # DISTINCT keys (round-11, verdict #8 wall trim): the MAX-fold's
        # registers are identical over distinct keys (max is idempotent
        # per key), so streaming each key once shrinks every micro-batch
        # fold ~66x at sf0.1 while the merge guarantee is untouched —
        # still 2 files at 1 file/trigger = at least TWO micro-batches,
        # so the foreachBatch fold really merges across batches.
        e.select("user_id").distinct().repartition(2).write.parquet(keys_dir)
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(keys_dir)
        )
        hll_dir = os.path.join(base, "hll")
        stream_q = start_stream_hll(
            stream, hll_dir, os.path.join(base, "ck"),
            key_col="user_id", m=64,
        )
        det = hll_build(e, "user_id", m=64, group_cols=["event_type"])
        out = _q45_batch_arms(e, det)
        try:
            stream_q.awaitTermination()
        finally:
            if stream_q.isActive:
                stream_q.stop()
        reg_rows = [
            ("hllstream", None, None, None, int(r["register"]), None,
             int(r["rho"]), None)
            for r in read_upsert_table(spark, hll_dir).collect()
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out.unionByName(local_df(spark, reg_rows, out.schema))


def _q45_batch_arms(e: DataFrame, det: DataFrame) -> DataFrame:
    """q45's batch arms (hll/hllx/hllest/cms/bloom) — split out so the
    streaming drain's awaitTermination sits between plan construction
    and the register read-back."""
    from ..operators.sketch import (
        bloom_build,
        cms_build,
        hll_estimate,
    )
    hllx = det.select(
        F.lit("hllx").alias("kind"),
        "event_type",
        F.lit(None).cast("bigint").alias("n_exact"),
        F.lit(None).cast("boolean").alias("approx_within_5pct"),
        F.col("register").alias("cms_row"),
        F.lit(None).cast("int").alias("cms_bucket"),
        F.col("rho").cast("bigint").alias("cms_cnt"),
        F.lit(None).cast("double").alias("hll_est"),
    )
    hllest = hll_estimate(det, ["event_type"]).select(
        F.lit("hllest").alias("kind"),
        "event_type",
        F.lit(None).cast("bigint").alias("n_exact"),
        F.lit(None).cast("boolean").alias("approx_within_5pct"),
        F.lit(None).cast("int").alias("cms_row"),
        F.lit(None).cast("int").alias("cms_bucket"),
        F.lit(None).cast("bigint").alias("cms_cnt"),
        F.col("n_distinct_est").alias("hll_est"),
    )
    hll = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        (
            # rsd=0.02: Spark's default (0.05) can miss the 5% contract —
            # HLL rsd is a standard deviation, not a bound
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= 0.05 * F.countDistinct("user_id")
        ).alias("approx_within_5pct"),
    ).select(
        F.lit("hll").alias("kind"),
        "event_type",
        "n_exact",
        "approx_within_5pct",
        F.lit(None).cast("int").alias("cms_row"),
        F.lit(None).cast("int").alias("cms_bucket"),
        F.lit(None).cast("bigint").alias("cms_cnt"),
        F.lit(None).cast("double").alias("hll_est"),
    )
    cms = cms_build(e, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH).select(
        F.lit("cms").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("n_exact"),
        F.lit(None).cast("boolean").alias("approx_within_5pct"),
        F.col("row").alias("cms_row"),
        F.col("bucket").alias("cms_bucket"),
        F.col("cnt").alias("cms_cnt"),
        F.lit(None).cast("double").alias("hll_est"),
    )
    bloom = bloom_build(e, "user_id", n_words=_BLOOM_WORDS, k=_BLOOM_K).select(
        F.lit("bloom").alias("kind"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("n_exact"),
        F.lit(None).cast("boolean").alias("approx_within_5pct"),
        F.col("word_idx").alias("cms_row"),
        F.lit(None).cast("int").alias("cms_bucket"),
        F.col("word").alias("cms_cnt"),
        F.lit(None).cast("double").alias("hll_est"),
    )
    return (
        hll.unionByName(hllx).unionByName(hllest)
        .unionByName(cms).unionByName(bloom)
    )


# ---------------------------------------------------------------------------
# Exact interpolated percentiles of the per-document token-count
# distribution, per source — the corpus-profiling aggregate every
# training-data pipeline reports.


# the per-document token-count CTE — shared verbatim by the q46 registry
# oracle and the demoted ihist-sketch replay (tests/test_sketch.py)
_Q46_TOK_CTE = """t AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tok
      FROM documents
    )"""

# The DEMOTED q46 'sketch' arm (oracle-tower amortization policy, round 7;
# driver-green r5+r6): the integer log-histogram quantile sketch
# (operators/sketch.py ihist_*) replayed in SQL — pure-integer bucketing
# (exponent + top-3 mantissa bits) so the cells are bit-identical
# cross-engine (a float log_gamma bucketing could flip floor at a boundary
# and break the hash). NULL n_tok is SKIPPED like Spark's ihist_build (an
# unfiltered null would inflate tot/cum and shift every quantile rank here
# while the Spark side dropped the row). Its DuckDB value parity now runs
# as pytest (tests/test_sketch.py::test_ihist_quantiles_duckdb_parity_demoted)
# over this SAME text; the bench number is the x_ihist_quantiles extras
# entry.
_Q46_IHIST_PARITY_SQL = f"""
    WITH {_Q46_TOK_CTE},
    ihist AS (
      SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT source,
               CASE WHEN n_tok < 16 THEN n_tok
                    ELSE 16 + (length(bin(n_tok)) - 1 - 4) * 8
                         + (n_tok >> (length(bin(n_tok)) - 1 - 3)) - 8
               END AS bucket
        FROM t WHERE n_tok IS NOT NULL
      ) GROUP BY source, bucket
    ),
    iw AS (
      SELECT source, bucket,
             sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY source) AS tot
      FROM ihist
    ),
    ipick AS (
      SELECT source, q,
             min(CASE WHEN cum >= CAST(floor(q * (tot - 1)) AS BIGINT) + 1
                      THEN bucket END) AS b
      FROM iw, (VALUES (0.5), (0.9), (0.99)) qs(q)
      GROUP BY source, q
    ),
    isk AS (
      SELECT source, q,
             CAST(CASE WHEN b < 16 THEN b
                  ELSE (8 + (b - 16) % 8) << ((b - 16) // 8 + 1)
                  END AS DOUBLE) AS v
      FROM ipick
    )
    SELECT source,
           round(max(CASE WHEN q = 0.5 THEN v END), 6)  AS p50,
           round(max(CASE WHEN q = 0.9 THEN v END), 6)  AS p90,
           round(max(CASE WHEN q = 0.99 THEN v END), 6) AS p99
    FROM isk GROUP BY source
    """


def ihist_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demoted q46 sketch arm's Spark side — also the
    x_ihist_quantiles bench entry."""
    from ..operators.sketch import ihist_build, ihist_quantiles

    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = d.select("source", n_tok.cast("long").alias("n_tok"))
    sq = ihist_quantiles(
        ihist_build(t, "n_tok", group_cols=["source"]),
        [0.5, 0.9, 0.99],
        group_cols=["source"],
    )
    return sq.groupBy("source").agg(
        *[
            F.round(
                F.max(F.when(F.col("q") == q, F.col("value"))).cast("double"), 6
            ).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    )


@register(
    "q46_token_percentiles",
    f"""
    WITH {_Q46_TOK_CTE}
    SELECT source,
           round(quantile_cont(n_tok, 0.5), 6)  AS p50,
           round(quantile_cont(n_tok, 0.9), 6)  AS p90,
           round(quantile_cont(n_tok, 0.99), 6) AS p99
    FROM t GROUP BY source
    """,
    survey_rows="§2.10 exposure: exact interpolated percentiles, X4 corpus "
    "profiling. The integer log-histogram quantile sketch arm "
    "(DDSketch-shaped, bit-identical cross-engine cells, constant "
    "≤488-cell state) was DEMOTED from this row's "
    "driver replay after two green rounds (amortization policy): its "
    "DuckDB parity runs as pytest "
    "(tests/test_sketch.py::test_ihist_quantiles_duckdb_parity_demoted) "
    "over the same CTE text, and x_ihist_quantiles keeps the bench number",
)
def q46_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    t = d.select("source", n_tok.cast("long").alias("n_tok"))
    return t.groupBy("source").agg(
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_tok, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_tok, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Session windows (gap-based sessionization) — the canonical large-scale
# event-log operator. Spark's F.session_window merges events closer than
# the gap into one window per user (and is the SAME operator that runs
# under Structured Streaming with a watermark — X6); the oracle is the
# classic gaps-and-islands rewrite: flag new sessions where the per-user
# delta ≥ gap, running-sum the flags into session ids, aggregate.
# Scale shape: one shuffle on user_id; sessions never cross users, so the
# operator partitions perfectly at any event volume.


@register(
    "q58_sessionize",
    """
    WITH o AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 8 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 8 HOUR AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    survey_rows="§2.10 exposure — session windows (streaming-capable sessionization)",
)
def q58_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "8 hours").alias("win"))
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


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key — the multi-dimensional data-layout
# primitive behind `zorder_write` (plans/layout.py; pruning demonstrated
# file-for-file in tests/test_layout.py). The oracle recomputes the bit
# interleave with DuckDB integer arithmetic.


@register(
    "q60_zorder_key",
    """
    WITH d AS (
      SELECT o_orderkey,
             CAST(o_orderkey % 256 AS BIGINT) AS x,
             CAST(o_custkey % 256 AS BIGINT) AS y
      FROM orders
    )
    SELECT o_orderkey, x, y,
           CAST((SELECT sum((((x >> b) & 1) << (2 * b)) + (((y >> b) & 1) << (2 * b + 1)))
            FROM generate_series(0, 7) gs(b)) AS BIGINT) AS zval
    FROM d
    """,
    survey_rows="§2.10 exposure — Z-order clustering key (multi-dim layout/pruning)",
)
def q60_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.layout import zvalue

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 256).cast("bigint").alias("x"),
        (F.col("o_custkey") % 256).cast("bigint").alias("y"),
    )
    return o.select(
        "o_orderkey", "x", "y", zvalue(["x", "y"], bits=8).alias("zval")
    )


