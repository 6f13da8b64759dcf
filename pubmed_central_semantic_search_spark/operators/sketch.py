"""Count–min sketch (Cormode & Muthukrishnan 2005) — frequency
estimation for the sketch tier (the HLL cardinality sketch is certified in
q45; CMS adds approximate per-key counts).

Why a sketch when ``groupBy(key).count()`` is exact: the CMS is
CONSTANT-SIZED (depth × width cells, independent of key cardinality),
where the exact groupBy's output grows with distinct keys. At 100 TB:
one narrow explode (depth rows per input row) → ONE partial-aggregated
groupBy on (row, bucket) → at most depth×width output rows.

Hashes are content-addressed (md5-derived, like the sampling/split
family), so two engines — or two clusters — build BIT-IDENTICAL sketches:
the DuckDB parity test recomputes the whole sketch in SQL.

All pure Catalyst; estimation collects the sketch (driver-sized by
construction) and answers point queries from a dict.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(key_col: Column | str, row: int, width: int) -> Column:
    """Bucket of ``key`` in hash row ``row`` — the shared md5-prefix
    primitive (``curation.md5_prefix_long``) mod width. Pure per-row."""
    from .curation import md5_prefix_long

    return (md5_prefix_long(key_col, f"#cms{row}") % width).cast("int")


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Sparse CMS: (row, bucket, cnt, depth, width) — zero cells omitted.
    One narrow explode + one keyed aggregate; ≤ depth×width output rows.
    ``depth``/``width`` ride along as literal metadata columns so every
    downstream consumer (the estimate, a parquet round-trip, another
    engine) can validate geometry instead of trusting the caller to
    repeat the build arguments. Null keys are skipped (round-8 review:
    the bloom twin already documented this rule while the CMS silently
    emitted NULL-bucket cells that crashed ``cms_estimate`` with an
    opaque TypeError; a null is the absence of a key and can never be
    point-queried)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"), cms_bucket(key_col, i, width).alias("bucket")
            )
            for i in range(depth)
        ]
    )
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.filter(key.isNotNull())
        .select(F.explode(cells).alias("c"))
        .select("c.row", "c.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("depth", F.lit(depth))
        .withColumn("width", F.lit(width))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: Sequence[str],
    depth: int | None = None,
    width: int | None = None,
) -> dict[str, int]:
    """Point queries: est(key) = min over rows of the key's cell. Always
    ≥ the true count; over by at most ~2N/width w.h.p. The sketch is
    depth×width cells — a driver round-trip by construction.

    Geometry comes from the sketch's own metadata columns (``cms_build``
    stamps them): passing ``depth``/``width`` is optional and validated
    against the stamped values — a mismatch in EITHER direction raises
    (probing with a larger width than the build would rehash keys into
    empty cells and silently UNDER-estimate, the one failure the CMS
    contract forbids; a smaller width is caught the same way). A frame
    holding more than one distinct stamped geometry (a union of
    sketches built with different geometries) is rejected too. Legacy
    sketches without metadata columns require explicit
    ``depth``/``width`` and get the out-of-range cell guard."""
    from .curation import md5_prefix_long_py

    from ..session import collect_bounded

    has_meta = "depth" in sketch.columns and "width" in sketch.columns
    # constant-state by the CMS contract (≤ depth × width cells); the
    # bound is roomy — a frame that trips it is not a sketch
    rows = collect_bounded(sketch, 1_048_576, "cms sketch cells")
    if has_meta:
        geoms = {(r["depth"], r["width"]) for r in rows}
        if len(geoms) > 1:
            raise ValueError(
                f"cms_estimate: sketch holds {len(geoms)} distinct "
                f"geometries {sorted(geoms)} — one sketch frame must hold "
                "one (depth, width)"
            )
        if geoms:
            built_d, built_w = next(iter(geoms))
            if depth is not None and depth != built_d:
                raise ValueError(
                    f"cms_estimate: geometry mismatch — depth={depth} but "
                    f"the sketch was built with depth={built_d}"
                )
            if width is not None and width != built_w:
                raise ValueError(
                    f"cms_estimate: geometry mismatch — width={width} but "
                    f"the sketch was built with width={built_w}"
                )
            depth, width = built_d, built_w
    if depth is None or width is None:
        raise ValueError(
            "cms_estimate: sketch has no geometry metadata (or is empty) — "
            "pass depth and width explicitly"
        )
    cells = {(r["row"], r["bucket"]): r["cnt"] for r in rows}
    # a LEGACY on-disk sketch built before the null-skip rule may carry
    # NULL-bucket cells (null keys hashed to null) — name them instead of
    # letting None >= int raise an opaque TypeError (round-8 review)
    if any(rb[0] is None or rb[1] is None for rb in cells):
        raise ValueError(
            "cms_estimate: sketch contains NULL row/bucket cells — built "
            "over null keys by a pre-round-8 cms_build; rebuild the "
            "sketch (null keys are skipped now) or filter the cells"
        )
    bad = [rb for rb in cells if rb[0] >= depth or rb[1] >= width]
    if bad:
        raise ValueError(
            f"cms_estimate: sketch has cells outside depth={depth}/"
            f"width={width} (e.g. {bad[0]}) — geometry must match the "
            "cms_build call"
        )

    def bucket(key: str, i: int) -> int:
        # same helper family as cms_bucket — one shared salt convention
        return md5_prefix_long_py(key, f"#cms{i}") % width

    return {
        k: min(cells.get((i, bucket(k, i)), 0) for i in range(depth)) for k in keys
    }


# ---------------------------------------------------------------------------
# Bloom filter — the membership sketch of the tier (CMS answers "how
# often", HLL "how many distinct", the Bloom filter "have we seen this
# key"). The 100 TB use is incremental-ingest dedup: a new batch checks
# its content keys against the HISTORY of everything ever ingested, and
# a plain left_anti join re-shuffles the whole history every batch. The
# Bloom filter of the history is constant-sized and no-false-negative,
# so the batch splits into "definitely new" (bloom
# says no — EXACT, skip the join) and a small "maybe seen" remainder
# that alone pays the exact anti-join (``bloom_anti_join``).
#
# Same content-addressed convention as the CMS (md5-prefix bit
# positions), so two engines build BIT-IDENTICAL word arrays — the q45
# 'bloom' arm recomputes every word in DuckDB. Words are 32-bit (stored
# in bigint): every mask is exact in a double, so the build and the
# membership test avoid shift-by-column (pow(2, bit) is exact below
# 2^52) and stay sign-free in both engines.

_BLOOM_WORD_BITS = 32


def bloom_bit(key_col: Column | str, i: int, m_bits: int) -> Column:
    """Bit position of ``key`` under hash ``i`` — md5-prefix mod m."""
    from .curation import md5_prefix_long

    return md5_prefix_long(key_col, f"#bf{i}") % m_bits


def bloom_build(
    df: DataFrame, key_col: str, n_words: int = 64, k: int = 4
) -> DataFrame:
    """Sparse Bloom words over ``df[key_col]``: (word_idx int, word
    bigint, n_words, k), all-zero words omitted. One narrow explode (k
    rows per input row) → ONE partial-aggregated bit_or groupBy; ≤
    n_words output rows no matter the corpus. ``n_words``/``k`` ride as
    literal metadata columns (round-10, the CMS/HLL geometry rule — the
    bloom was the one family member whose consumers had to TRUST the
    caller to repeat the build arguments; a probe against a
    different-geometry table reads unset bits and produces FALSE
    NEGATIVES, the one error class a Bloom filter must never make).
    Null keys are skipped (SQL join semantics: null matches nothing, so
    membership has nothing to record)."""
    m = n_words * _BLOOM_WORD_BITS
    pos = F.explode(
        F.array(*[bloom_bit(key_col, i, m) for i in range(k)])
    ).alias("pos")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.filter(key.isNotNull())
        .select(pos)
        .select(
            (F.col("pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
            F.pow(F.lit(2.0), F.col("pos") % _BLOOM_WORD_BITS)
            .cast("bigint")
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .withColumn("n_words", F.lit(int(n_words)))
        .withColumn("k", F.lit(int(k)))
    )


def bloom_literal(bloom: DataFrame, n_words: int) -> list[int]:
    """Densify to a plain n_words list (driver-sized BY CONSTRUCTION —
    ≤ n_words rows regardless of how many keys were inserted). When the
    frame carries the round-10 geometry metadata, a caller asking for a
    DIFFERENT n_words raises by name — probing a re-densified filter
    with mismatched positions yields false negatives."""
    from ..session import collect_bounded

    words = [0] * n_words
    has_geom = "n_words" in bloom.columns
    # ≤ n_words rows by construction — fenced anyway (the k-sized-collect
    # rule; a frame that is NOT a sparse bloom gets a named error, not a
    # driver OOM)
    for r in collect_bounded(bloom, n_words, "bloom words"):
        if has_geom and r["n_words"] is not None and int(r["n_words"]) != n_words:
            raise ValueError(
                f"bloom_literal: filter was built with n_words="
                f"{r['n_words']} but the caller asked for {n_words} — "
                "mismatched geometry produces false negatives"
            )
        words[int(r["word_idx"])] = int(r["word"])
    return words


def bloom_might_contain(
    key_col: Column | str, words: list[int], k: int
) -> Column:
    """Membership as a PURE projection: the words ride as one
    constant-folded literal (``array_lit`` rationale), each of the k
    probes is floor(word / 2^bit) % 2 — exact double arithmetic since
    words < 2^32. False positives possible, false negatives never."""
    import json

    m = len(words) * _BLOOM_WORD_BITS
    arr = F.from_json(F.lit(json.dumps(words)), "array<bigint>")
    probes = []
    for i in range(k):
        pos = bloom_bit(key_col, i, m)
        word = F.element_at(arr, (pos / _BLOOM_WORD_BITS).cast("int") + 1)
        bit = F.pow(F.lit(2.0), pos % _BLOOM_WORD_BITS)
        probes.append((F.floor(word / bit).cast("bigint") % 2) == 1)
    out = probes[0]
    for p in probes[1:]:
        out = out & p
    # null key → null probes; the filter never inserts nulls (build skips
    # them), so "might contain" is definitively false, not unknown —
    # without this coalesce a null-key row vanishes from BOTH sides of
    # bloom_anti_join's maybe/definite split.
    return F.coalesce(out, F.lit(False))


def bloom_anti_join(
    new_df: DataFrame,
    history_df: DataFrame,
    key_col: str,
    n_words: int = 64,
    k: int = 4,
    words: list[int] | None = None,
) -> DataFrame:
    """Rows of ``new_df`` whose key does NOT appear in ``history_df`` —
    IDENTICAL to ``new_df.join(history, key, 'left_anti')``
    (property-pinned), but the full-history shuffle is paid only by the
    bloom-positive remainder: definitely-new rows (no false negatives)
    skip the join entirely. With a 1% false-positive bloom the exact
    anti-join's probe side shrinks to ~(matches + 1% of new) rows.

    AMORTIZE THE BUILD: pass prebuilt ``words`` (``bloom_literal`` of a
    filter built once, e.g. read back from a words table) whenever
    the same history serves many batches. Building inside this call scans
    the full history EVERY time, and at broadcast-sized history that
    costs more than the plain anti-join it replaces (measured locally:
    80k-key history, per-call build 20× slower than the exact join). The
    prefilter pays off when history is too large to broadcast AND the
    filter is built once — the incremental-ingest steady state.

    ``_maybe`` is reserved (the upsert _is_new/_rn rule): a same-named
    input column would be silently replaced mid-split and dropped.

    Sizing: m = n_words·32 bits; FP ≈ (1 − e^(−k·n/m))^k. The words ship
    as ONE driver literal — fine to ~10⁷ history keys (m = 10n bits ≈
    12 MB plan literal); beyond that, keep the words as a table and probe
    via an equi-join on word_idx (the build side of this module is
    already that shape), or shard the bloom by key prefix."""
    if "_maybe" in new_df.columns:
        raise ValueError(
            "bloom_anti_join: input column '_maybe' is reserved for the "
            "definite/maybe split; rename it"
        )
    if words is None:
        words = bloom_literal(
            bloom_build(history_df, key_col, n_words, k), n_words
        )
    elif len(words) != n_words:
        raise ValueError(
            f"bloom_anti_join: prebuilt words has {len(words)} words but "
            f"n_words={n_words} — geometry must match the build"
        )
    flagged = new_df.withColumn(
        "_maybe", bloom_might_contain(key_col, words, k)
    )
    definite = flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = (
        flagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(history_df.select(key_col), key_col, "left_anti")
    )
    return definite.unionByName(maybe)


# The words-table broadcast ceiling: 2^22 words = 16 MiB of raw filter
# (128 Mbit ≈ 13M keys at 1% FP) — comfortably inside executor broadcast
# budgets as a (word_idx, word) HashedRelation. Larger filters probe via
# a plain shuffle equi-join on word_idx instead of a forced broadcast.
_BLOOM_BROADCAST_MAX_WORDS = 1 << 22


def bloom_anti_join_table(
    new_df: DataFrame,
    bloom_df: DataFrame,
    history_df: DataFrame,
    key_col: str,
    n_words: int,
    k: int = 4,
) -> DataFrame:
    """``bloom_anti_join`` for blooms TOO LARGE to ship as a plan
    literal (the docstring's beyond-10⁷-keys seam, now real): the words
    stay a (word_idx, word) TABLE — e.g. a ``bloom_build`` output
    persisted as parquet and read straight back — and membership probes via
    an equi-join on word_idx instead of a constant-folded array lookup.

    Shape: the batch's DISTINCT keys explode to k (word_idx, bit) probes
    (narrow, k rows per distinct key), join the words table on word_idx
    (the bloom side is ≤ n_words rows — broadcast-hinted only up to
    ``_BLOOM_BROADCAST_MAX_WORDS`` = 2²² words ≈ 16 MiB of filter;
    beyond that the hint is dropped and the probe is a plain shuffle
    equi-join on an integer key), and a key is MAYBE-seen iff all k probed
    bits are set (an absent word row is an unset word — the left join's
    null word reads as 0). Decisions are a pure function of the key, so
    they compute once per distinct key and join back to the batch —
    duplicate batch rows don't multiply probe work.

    Semantics are IDENTICAL to ``bloom_anti_join`` with the same
    geometry (property-pinned): no false negatives, the maybe remainder
    pays the exact anti-join. Null keys pass through as definitely-new
    (the build skips them, matching ``bloom_might_contain``'s coalesce).

    Geometry is validated against the words table in-plan: the round-10
    metadata columns (``bloom_build`` stamps n_words/k) must match the
    probe arguments — mismatched positions read unset bits, i.e. FALSE
    NEGATIVES, the one error a Bloom filter must never make; legacy
    tables without the columns fall back to the structural word_idx
    bound check (which catches only larger-geometry builds)."""
    clash = {"_k", "_maybe"} & set(new_df.columns)
    if clash:
        raise ValueError(
            f"bloom_anti_join_table: input column(s) {sorted(clash)} are "
            "reserved for the probe/decision join; rename them"
        )
    key = F.col(key_col)
    m = n_words * _BLOOM_WORD_BITS
    if "n_words" in bloom_df.columns:
        geom_ok = (
            F.col("n_words").isNull() | (F.col("n_words") == n_words)
        ) & (
            (F.col("k").isNull() | (F.col("k") == k))
            if "k" in bloom_df.columns
            else F.lit(True)
        )
        bloom_checked = bloom_df.select(
            F.when(geom_ok, F.col("word_idx")).otherwise(
                F.raise_error(F.lit(
                    "bloom_anti_join_table: words table geometry differs "
                    f"from the probe arguments (n_words={n_words}, k={k}) "
                    "— mismatched positions produce false negatives"
                )).cast("int")
            ).alias("word_idx"),
            "word",
        )
    else:
        bloom_checked = bloom_df.select(
            F.when(
                F.col("word_idx") < n_words, F.col("word_idx")
            ).otherwise(
                F.raise_error(F.lit(
                    "bloom_anti_join_table: words table holds word_idx >= "
                    f"n_words={n_words} — built with a different geometry; "
                    "probe positions would be meaningless"
                )).cast("int")
            ).alias("word_idx"),
            "word",
        )
    probes = (
        new_df.filter(key.isNotNull())
        .select(key.alias("_k"))
        .distinct()
        .select(
            "_k",
            F.explode(
                F.array(*[bloom_bit(F.col("_k"), i, m) for i in range(k)])
            ).alias("_pos"),
        )
        .select(
            "_k",
            (F.col("_pos") / _BLOOM_WORD_BITS).cast("int").alias("word_idx"),
            F.pow(F.lit(2.0), F.col("_pos") % _BLOOM_WORD_BITS)
            .cast("bigint")
            .alias("_bit"),
        )
    )
    # Broadcast only while the words table is broadcast-SIZED (round-11,
    # ADVICE r10): the hint was unconditional, force-broadcasting even a
    # multi-GB words table — the very beyond-broadcast case this
    # function exists for. Up to _BLOOM_BROADCAST_MAX_WORDS the probe
    # keeps the measured fast path; beyond it the hint is dropped and
    # the equi-join on the integer word_idx shuffles (AQE may still pick
    # a better strategy from runtime sizes).
    if n_words <= _BLOOM_BROADCAST_MAX_WORDS:
        bloom_checked = F.broadcast(bloom_checked)
    decisions = (
        probes.join(bloom_checked, "word_idx", "left")
        .select(
            "_k",
            (
                (
                    F.floor(
                        F.coalesce(F.col("word"), F.lit(0)) / F.col("_bit")
                    ).cast("bigint")
                    % 2
                )
                == 1
            ).alias("_hit"),
        )
        .groupBy("_k")
        .agg((F.count(F.lit(1)) == F.sum(F.col("_hit").cast("int"))).alias("_maybe"))
    )
    flagged = new_df.join(
        decisions, new_df[key_col] == decisions["_k"], "left"
    ).drop("_k")
    # null key → no decision row → _maybe null → definitely new (the
    # build skips nulls; bloom_anti_join's coalesce rule)
    definite = flagged.filter(
        ~F.coalesce(F.col("_maybe"), F.lit(False))
    ).drop("_maybe")
    maybe = (
        flagged.filter(F.coalesce(F.col("_maybe"), F.lit(False)))
        .drop("_maybe")
        .join(history_df.select(key_col), key_col, "left_anti")
    )
    return definite.unionByName(maybe)


# ---------------------------------------------------------------------------
# Integer log-histogram quantile sketch — the distribution member of the
# sketch family (CMS: frequency, HLL: cardinality, Bloom: membership;
# this: quantiles). DDSketch-shaped (Masson et al., VLDB 2019: log-spaced
# buckets give a RELATIVE-error guarantee with constant state), but the
# bucketing is pure INTEGER bit arithmetic instead of floor(log_gamma(x)):
# a float log differs across engines in the last ulp, so floor at a
# bucket boundary could flip and break the bit-identical-cells contract
# every sketch here carries. Bucket of n >= 1: values below 16 are their
# OWN bucket (exact); above, the bucket is (exponent, top-3-mantissa-bits)
# — 8 sub-buckets per octave, so any answer's representative is within
# 12.5% of the true value (exact below 16; n = 0 is exact bucket 0).
# ≤ 488 cells for the whole int64 range — constant-size whatever the row
# count.
#
# Quantile semantics (both engines, test-pinned): rank = floor(q·(N−1))+1,
# answer = lower bound of the first bucket whose cumulative count reaches
# the rank — the "lower quantile" definition, chosen because every step
# is exact integer/IEEE-identical arithmetic (no interpolation floats).

IHIST_SUB_BITS = 3
# largest bucket a NON-NEGATIVE int64 can produce (exponent 62); anything
# above is the two's-complement signature of a negative input
IHIST_MAX_BUCKET = 16 + (62 - 4) * 8 + 7


def ihist_bucket(value_col: Column | str) -> Column:
    """Log-histogram bucket of a non-negative integer column — pure
    integer Catalyst (length-of-binary exponent + top-3-bit mantissa).
    Negative inputs raise per row (arithmetic shiftright's sign fill
    would otherwise scramble them into huge phantom buckets silently)."""
    n = F.col(value_col) if isinstance(value_col, str) else value_col
    n = n.cast("long")
    e = F.length(F.bin(n)) - F.lit(1)
    top = F.call_function("shiftright", n, (e - F.lit(IHIST_SUB_BITS)).cast("int"))
    bucket = (
        F.when(n < 16, n)
        .otherwise(
            F.lit(16)
            + (e - F.lit(IHIST_SUB_BITS + 1)) * F.lit(1 << IHIST_SUB_BITS)
            + (top - F.lit(1 << IHIST_SUB_BITS))
        )
        .cast("int")
    )
    # null passes through as null (ihist_build filters them; direct users
    # get SQL null semantics) — a bare `n >= 0` condition is NULL for
    # null input and `when` would fall through to the raise
    return F.when(n.isNull() | (n >= 0), bucket).otherwise(
        F.raise_error(
            F.lit("ihist_bucket: negative input — the sketch covers counts/"
                  "sizes (non-negative integers); shift or clamp upstream")
        ).cast("int")
    )


def ihist_rep(bucket_col: Column | str) -> Column:
    """Deterministic representative (the bucket's LOWER bound) — exact for
    buckets < 16, `(8 + mantissa) << (exponent − 3)` above. Buckets beyond
    IHIST_MAX_BUCKET raise (negative-input signature — the cms_estimate
    geometry-guard rule)."""
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    m = (b - 16) % F.lit(1 << IHIST_SUB_BITS)
    e = F.floor((b - 16) / F.lit(1 << IHIST_SUB_BITS)).cast("int") + F.lit(
        IHIST_SUB_BITS + 1
    )
    big = F.call_function(
        "shiftleft",
        (F.lit(1 << IHIST_SUB_BITS) + m).cast("long"),
        (e - F.lit(IHIST_SUB_BITS)).cast("int"),
    )
    ok = F.when(b < 16, b.cast("long")).otherwise(big)
    # null passes through (the ihist_bucket rule — a bare `b <= MAX`
    # condition is NULL for null input and would fall through to the raise)
    return F.when(b.isNull() | (b <= F.lit(IHIST_MAX_BUCKET)), ok).otherwise(
        F.raise_error(
            F.lit("ihist_rep: bucket beyond the non-negative int64 range — "
                  "the sketch was built from negative inputs")
        ).cast("long")
    )


def ihist_scale(value_col: Column | str, scale: int = 1000) -> Column:
    """Fixed-point front-end for REAL-valued metrics (score/ratio
    distributions): ``floor(scale · x)`` as BIGINT — one exact double
    multiply-and-floor, identical in any IEEE engine, feeding
    ``ihist_bucket``. The sketch's relative-error contract then applies
    to the scaled integer (absolute error ≤ 1/scale + 12.5% relative).
    Negative inputs still raise downstream — shift first if the metric
    can go below zero."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return F.floor(v.cast("double") * F.lit(int(scale))).cast("long")


def ihist_build(
    df: DataFrame, value_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Sparse histogram (*group_cols, bucket, cnt) — ONE partial-aggregated
    groupBy; ≤ 488 cells per group whatever the row count. Null values are
    skipped (SQL aggregate semantics: an unknown value has no bucket)."""
    g = list(group_cols)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*g, ihist_bucket(value_col).alias("bucket"))
        .groupBy(*g, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ihist_quantiles(
    sketch: DataFrame, qs: Sequence[float], group_cols: Sequence[str] = ()
) -> DataFrame:
    """(*group_cols, q, value): per-group quantiles from the histogram —
    one cumulative window over ≤ 488 rows per group + one argmin
    aggregate; fully distributed (nothing collects) and exactly
    SQL-replayable (rank = floor(q·(N−1)) + 1, first bucket with
    cum ≥ rank, lower-bound representative)."""
    from pyspark.sql import Window

    bad_q = [q for q in qs if not 0.0 <= float(q) <= 1.0]
    if bad_q:
        # q > 1 would make rank exceed the total and pick a NULL bucket,
        # surfacing as ihist_rep's misleading negative-input error
        raise ValueError(f"ihist_quantiles: q must be in [0, 1], got {bad_q}")
    g = list(group_cols)
    w_cum = Window.partitionBy(*g).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy(*g)
    qf = sketch.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "tot", F.sum("cnt").over(w_tot)
    ).withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
    rank = F.floor(F.col("q") * (F.col("tot") - 1)).cast("long") + F.lit(1)
    hit = F.when(F.col("cum") >= rank, F.col("bucket"))
    picked = qf.groupBy(*g, "q").agg(F.min(hit).alias("_b"))
    return picked.select(*g, "q", ihist_rep("_b").alias("value"))


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (Flajolet et al. 2007, AofA) — round 9.
#
# q45's 'hll' arm certifies Spark's BUILT-IN approx_count_distinct only
# within a 5% tolerance of the exact count: the built-in's registers are
# engine-private, so nothing sharper is checkable. This tier rebuilds the
# sketch on the package's content-addressed md5 primitive, which makes the
# REGISTERS bit-identical across engines/clusters/runs — the same
# cells-are-the-contract construction the CMS and bloom tiers use — and
# the estimate a pure function of them. Registers merge by MAX (the
# streaming story: constant ``m``-cell state however many distinct keys
# stream by; ``start_stream_hll`` folds batches into a register table
# that commits through the tables' versioned log).
#
# Hash split, chosen for exact SQL replay: h = md5-prefix-32bit(key),
# register = h % m (non-negative, pmod-free), value = h div m — the
# remaining ``32 − log2(m)`` bits; rho = (leading zeros of value in that
# width) + 1 = vbits + 1 − bitlength(value), with bitlength via the
# string length of bin() (identical no-padding semantics in Spark and
# DuckDB; bin(0) = '0' is special-cased). No float anywhere until the
# estimate.

_HLL_SALT = "#hll"


def _hll_vbits(m: int) -> int:
    import math

    b = int(math.log2(m))
    if 2 ** b != m or not 16 <= m <= 65536:
        raise ValueError(f"hll: m must be a power of two in [16, 65536], got {m}")
    return 32 - b


def hll_parts(key_col: Column | str, m: int = 64) -> tuple[Column, Column]:
    """(register, rho) for one key — pure per-row Catalyst, both exactly
    replayable in SQL."""
    from .curation import md5_prefix_long

    vbits = _hll_vbits(m)
    h = md5_prefix_long(key_col, _HLL_SALT)
    reg = (h % m).cast("int")
    # exact integer division: subtract the remainder BEFORE the `/` so
    # the double division is exact (numerator a multiple of m, well
    # under 2^53; the module's exact-integer-arithmetic promise)
    val = ((h - (h % m)) / m).cast("bigint")
    bitlen = F.when(val == 0, F.lit(0)).otherwise(F.length(F.bin(val)))
    rho = (F.lit(vbits + 1) - bitlen).cast("int")
    return reg, rho


def hll_build(
    df: DataFrame,
    key_col: str,
    m: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Sparse HLL: (*group_cols, register, rho, m) — one narrow
    projection + ONE keyed aggregate (max per register); ≤ m output rows
    per group, zero registers omitted. ``m`` rides as literal metadata
    (the CMS geometry rule: consumers validate instead of trusting the
    caller to repeat build arguments). Null keys are skipped (the
    sketch-family rule: a null is the absence of a key)."""
    g = list(group_cols)
    reg, rho = hll_parts(key_col, m)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.filter(key.isNotNull())
        .select(*g, reg.alias("register"), rho.alias("rho"))
        .groupBy(*g, "register")
        .agg(F.max("rho").alias("rho"))
        .withColumn("m", F.lit(int(m)))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union + per-register MAX — the HLL merge law (merge(build(A),
    build(B)) ≡ build(A ∪ B), test-pinned). Geometry (m) must agree;
    validated in-plan — EAGERLY across the whole union
    (round-10 ADVICE: the earlier per-register check only fired when a
    register appeared in BOTH inputs, so different-m sketches with
    disjoint register sets merged into a silently meaningless table).
    The geometry scan is one aggregate over the tiny register union,
    broadcast back as a 1-row frame."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    g = [c for c in out.columns if c not in ("register", "rho", "m")]
    geom = out.agg(
        F.min("m").alias("_gm_min"), F.max("m").alias("_gm_max")
    )
    return (
        out.groupBy(*g, "register")
        .agg(F.max("rho").alias("rho"), F.min("m").alias("m"))
        .crossJoin(F.broadcast(geom))
        .withColumn(
            "m",
            F.when(F.col("_gm_min") == F.col("_gm_max"), F.col("m"))
            .otherwise(
                F.raise_error(F.lit(
                    "hll_merge: sketches disagree on m — rebuilt with "
                    "different register counts, the merge is meaningless"
                )).cast("int")
            ),
        )
        .drop("_gm_min", "_gm_max")
    )


def hll_estimate(
    sketch: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """(*group_cols, n_distinct_est): the HLL estimator over the sparse
    registers — fully distributed (one aggregate per group, nothing
    collects). alpha_m · m² / Σ 2^(−M[j]) with absent registers
    contributing 2⁰ each, and the small-range correction
    m·ln(m/V) when E ≤ 2.5m and V > 0 (V = zero registers). Standard
    error ≈ 1.04/√m (13% at m=64, 3.25% at m=1024) — accuracy contract
    test-pinned; the estimate is rounded to 6 so the cross-engine replay
    hash-matches despite summation order."""
    g = list(group_cols)
    agg = sketch.groupBy(*g).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_present"),
        F.min("m").alias("_m"),
    )
    m = F.col("_m").cast("double")
    # absent registers: rho 0 → 2^0 = 1 each
    s = F.col("_s_present") + (m - F.col("_n_present"))
    v = m - F.col("_n_present")  # zero registers
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    raw = alpha * m * m / s
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), m * F.log(m / v)
    ).otherwise(raw)
    return agg.select(*g, F.round(est, 6).alias("n_distinct_est"))
