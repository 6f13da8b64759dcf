"""Training-data curation operators (BASELINE.json north star: the
operations a large-scale LLM training pipeline needs beyond the
reference's own surface).

All pure Catalyst — deterministic, engine-portable, no UDF:

- ``hash_split`` — stable train/val/test assignment from md5 of the
  document key. Content-addressed (re-runs and re-shards never move a doc
  between splits), exactly the property the reference gets from its
  sha3-derived point ids (``qdrant.py:137-139``). Buckets come from the
  first two hex chars (0..255), mapped to splits by cumulative share.
  Narrow (per-row) — zero shuffles at any scale.

- ``pack_sequences`` — LLM pretraining sequence packing: concatenate each
  shard's documents in key order and cut at ``ctx_len``-token boundaries
  (documents may straddle cuts, the standard GPT-style packing). A
  running-total window per shard gives every doc its (sequence, offset)
  coordinates. One shuffle+sort per shard partition; shards are the
  parallelism unit at 100 TB (the global-order variant would serialize).

- ``shingle_set`` / ``decontaminate`` — benchmark decontamination: flag
  corpus docs sharing ≥ ``min_shared`` distinct n-gram shingles with any
  benchmark doc. Shingling is a narrow ``transform`` over the token
  array (no token-explode shuffle); the overlap test is an equi-join on
  the shingle hash — the inverted-index shape that scales (never a doc ×
  doc comparison).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def _tokens(text_col: Column | str) -> Column:
    """THE whitespace tokenizer — the one definition every operator
    module shares (dsir/lm/classifier/textstats/dedup/retrieval
    import it), so the content-addressed features, perplexities, and
    DuckDB oracles can never drift on tokenization.

    CONVENTION: tokens are SINGLE-SPACE-separated — the split is on the
    literal space, replicated verbatim as ``string_split(text, ' ')`` in
    every oracle. Raw multi-line/tab text must be normalized first
    (``functions/text.normalize_ws``) or tokens straddle newlines and
    length arithmetic counts padding."""
    return F.filter(F.split(text_col, " "), lambda t: t != "")


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    shares: dict[str, float] | None = None,
) -> DataFrame:
    """Add ``bucket`` (0..255, md5-derived) and ``split`` columns.

    ``shares`` maps split name → fraction; defaults to 80/10/10. The
    fractions must sum to ≤ 1 (a remainder goes to the LAST split —
    convenient for "train gets the rest"); a sum OVER 1 raises by name
    (round-9 review pass: {train: .8, val: .3, test: .1} used to
    silently hand val everything past bucket 204 and leave test EMPTY —
    a mis-typed share produced a missing split with no error anywhere).
    """
    shares = shares or {"train": 0.80, "val": 0.10, "test": 0.10}
    total = sum(shares.values())
    if total > 1.0 + 1e-9 or any(v < 0 for v in shares.values()):
        raise ValueError(
            f"hash_split: shares must be non-negative and sum to <= 1 "
            f"(got sum={total}); a sum over 1 silently empties the "
            "later splits"
        )
    h = F.md5(F.col(key_col).cast("string"))
    nibble = lambda i: F.instr(F.lit(HEX), F.substring(h, i, 1)) - 1  # noqa: E731
    bucket = (nibble(1) * 16 + nibble(2)).alias("bucket")
    expr = None
    acc = 0.0
    names = list(shares)
    for name in names[:-1]:
        acc += shares[name]
        cond = F.col("bucket") < int(round(acc * 256))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1]))
    return df.withColumn("bucket", bucket).withColumn("split", split)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Content-addressed global shuffle into training shards: adds
    ``shard`` (0..n_shards-1) and ``shard_pos`` (0-based dense position
    within the shard) from an md5-derived key — a reproducible
    pseudo-random permutation of the corpus.

    Training pipelines need the corpus de-correlated from ingest order
    (source runs, crawl locality) but REPRODUCIBLY so: re-running the job,
    or appending then re-sharding, must give every retained doc the same
    coordinates. Hash-ordering by md5(id ∥ seed) does exactly that — no
    RNG state, no collect, and changing ``seed`` is a fresh permutation.

    Scale shape: the hash and shard are narrow projections; the only wide
    op is ONE hash-partitioned sort per shard (the row_number window) —
    at 100 TB shards map to output files/partitions, and writers consume
    them with ``partitionBy(shard)`` + in-partition order preserved."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    out = df.withColumn("_h", h).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_h", F.col(id_col))
    return (
        out.withColumn("shard_pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_h")
    )


def pack_sequences(
    df: DataFrame,
    ctx_len: int = 512,
    shard_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document its packed-sequence coordinates.

    Returns the input keys plus ``n_tokens``, ``seq_id`` (sequence the doc
    starts in), ``seq_offset`` (token offset within it), and ``seq_end``
    (sequence the doc ends in — > seq_id when the doc straddles a cut).
    Sequence ids are per-shard; (shard, seq_id) is the global key.

    Zero-token documents (empty/whitespace-only text) contribute nothing to
    the stream; their ``seq_end`` is clamped to ``seq_id`` so coordinates
    stay monotone (the raw floor((before-1)/ctx) would be seq_id-1).
    """
    n_tok = F.size(_tokens(text_col))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.select(shard_col, order_col, n_tok.alias("n_tokens")).withColumn(
        "_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return out.select(
        shard_col,
        order_col,
        "n_tokens",
        F.floor(F.col("_before") / ctx_len).alias("seq_id"),
        (F.col("_before") % ctx_len).alias("seq_offset"),
        F.greatest(
            F.floor(F.col("_before") / ctx_len),
            F.floor((F.col("_before") + F.col("n_tokens") - 1) / ctx_len),
        ).alias("seq_end"),
    )


def shingle_set(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, distinct n-gram shingle md5). Narrow until the
    explode; no shuffle."""
    toks = _tokens(text_col)
    shingles = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        id_col, F.explode(shingles).alias("_sh")
    ).select(id_col, F.md5("_sh").alias("shingle_hash"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contaminated (corpus_doc, benchmark_doc, n_shared_shingles) pairs.

    Equi-join on shingle hash (inverted index), then a keyed count —
    never a quadratic doc×doc scan. Benchmark shingle sets are typically
    small enough to broadcast at any corpus scale.
    """
    c = shingle_set(corpus, n, id_col, text_col)
    b = shingle_set(benchmark, n, id_col, text_col).select(
        F.col(id_col).alias("bench_id"), "shingle_hash"
    )
    pairs = c.join(F.broadcast(b), "shingle_hash")
    return (
        pairs.groupBy(id_col, "bench_id")
        .agg(F.count_distinct("shingle_hash").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine decontamination: (corpus_id, bench_id, cosine) for
    every corpus vector whose embedding sits within ``min_cosine`` of a
    benchmark vector — the semantic complement of the n-gram pass above
    (catches paraphrased/reworded benchmark leakage that shares no 8-gram).

    Scale shape: a real benchmark is CONSTANT-sized (thousands of rows, not
    corpus-proportional), so its side always broadcasts; the corpus side is
    one narrow scan. ``block_col`` (a label, length bucket, or LSH bucket
    from operators/ann.py) turns the broadcast nested-loop into a broadcast
    equi-join when both sides carry a blocking key; ``None`` compares every
    (corpus, bench) pair — still linear in the corpus because the bench
    side is constant. Norms fold once per row on each side before the join
    (same per-pair-cost argument as embedding_near_dup); the final
    expression keeps the exact dot/(n_c*n_b) evaluation order of
    ``cosine_similarity``.
    """
    from ..functions.vector import dot, l2_norm

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(vec_col).alias("_cn"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).alias("_bv"),
        l2_norm(vec_col).alias("_bn"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    joined = (
        c.join(F.broadcast(b), on="_blk") if block_col else c.crossJoin(F.broadcast(b))
    )
    # zero-norm guard (cosine_similarity's convention): a degenerate
    # embedding scores 0 — never contaminated — instead of raising
    # DIVIDE_BY_ZERO under ANSI and aborting the whole pass
    n2 = F.col("_cn") * F.col("_bn")
    return (
        joined.select(
            "corpus_id",
            "bench_id",
            F.round(
                F.when(n2 > 0, dot("_cv", "_bv") / n2).otherwise(F.lit(0.0)), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass every released training corpus runs
# (C4/Dolma-style). Pure Catalyst regexp ops: narrow, zero-shuffle, scales
# as a map over the corpus. Patterns deliberately use the Java-regex ∩ RE2
# subset (char classes, bounded/unbounded repetition, \b, alternation-free;
# NO lookaround) so the same pattern string is oracle-checkable in DuckDB
# and portable to any RE2-based scanner at serving time.
#
# Replacement ORDER is part of the contract: email → SSN → IPv4 → phone.
# Later patterns see the already-scrubbed text, so a phone-like digit run
# inside an email local-part or an SSN can't be double-redacted
# differently by engines applying rules in another order.

PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # each repeat consumes AT MOST one separator then a digit, so a match
    # can never extend across a " - " run into following text ("+1 555
    # 123 4567 - 9am" used to redact through the 9 of 9am) and the total
    # is >= 7 digits after the lead — digit-count-anchored, not char-count
    "phone": (r"\+[0-9](?:[ -]?[0-9]){6,}", "<PHONE>"),
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Redact PII in ``text_col`` → ``out_col`` plus one ``n_<kind>`` count
    column per pattern (counted on the text as each rule sees it)."""
    patterns = patterns or PII_PATTERNS
    cur: Column = F.col(text_col)
    counts = []
    for kind, (pat, token) in patterns.items():
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select("*", *counts, cur.alias(out_col))


def select_token_budget(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_tokens: int = 100_000,
) -> DataFrame:
    """Corpus selection under a per-group token budget: within each group
    (source/domain), keep documents in preference order (longer first,
    id-tiebroken — swap in any quality ordering) until the cumulative
    whitespace-token count would exceed ``budget_tokens``.

    This is the data-mixing step of a training pipeline ("x billion tokens
    per domain"). One shuffle on the group key; the running total is a
    bounded-frame window per group — groups are the parallelism unit, so
    the plan holds at any corpus size as long as no single group's doc
    LIST outgrows a partition (salt pathological mega-domains upstream).
    """
    n_tok = F.size(_tokens(text_col)).cast("bigint")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("n_tokens"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(group_col, id_col, n_tok.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def md5_prefix_long(key_col: Column | str, salt: str) -> Column:
    """First 8 md5 hex chars of the salted key as a bigint in
    [0, 2³²) — the shared content-addressed hash primitive behind
    ``wrs_key`` and the count–min sketch buckets (``operators/
    sketch.py``); each DuckDB oracle mirrors it verbatim."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("bigint")


def md5_prefix_long_py(key: str, salt: str) -> int:
    """Driver-side twin of ``md5_prefix_long`` — the ONE place the
    salt/prefix convention exists in Python, so consumers that must hash
    on the driver (``sketch.cms_estimate`` point queries) cannot drift
    from the Catalyst expression. Equality is unit-pinned across both."""
    import hashlib

    return int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)


def md5_prefix_uniform(key_col: Column | str, salt: str) -> Column:
    """Content-addressed uniform in (0, 1): the 32-bit prefix +0.5,
    / 2^32 — never exactly 0 or 1."""
    v = md5_prefix_long(key_col, salt).cast("double")
    return (v + F.lit(0.5)) / F.lit(float(1 << 32))


def wrs_key(
    weight_col: Column | str,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> Column:
    """Efraimidis–Spirakis A-ES key for weighted sampling WITHOUT
    replacement: ``u^(1/w)`` with ``u`` a content-addressed uniform in
    (0, 1) from md5 of the document key — the top-k rows by this key are
    exactly a weight-proportional sample without replacement (ES 2006,
    Inf. Proc. Letters). Content addressing replaces the RNG, so the
    sample is a pure function of (key, weight, salt): re-runs, re-shards
    and engine changes reproduce it bit for bit, the same property
    ``hash_split``/``stratified_sample`` give unweighted selection.

    Non-positive weights get key −1 (sorts below every real key;
    ``weighted_sample`` drops them up front). Rounded to 6 so the value
    is engine-portable despite pow ulp differences — which bounds this
    FORM to moderate weights: for w ≫ 10⁴ the key saturates toward 1.0
    and round-6 collapses distinct weights into tie groups. That is why
    ``weighted_sample`` selects on the ordering-equivalent EXPONENTIAL
    form (``wrs_exp_key``) instead; this rounded form exists for the
    cross-engine value certification (q50's wrs_key arm, where the
    weight is a text length ≤ ~10³ — comfortably inside the safe range).

    Per-row expression — zero shuffles; the selection that follows is one
    TakeOrderedAndProject. At 100 TB this is THE sampling shape: no
    global sort, no corpus-sized join, per-partition k-heaps only."""
    u = md5_prefix_uniform(key_col, "#" + salt)
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    return F.round(
        F.when(w > 0, F.pow(u, F.lit(1.0) / w)).otherwise(F.lit(-1.0)), 6
    )


def wrs_exp_key(
    weight_col: Column | str,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> Column:
    """The numerically robust A-ES form: ``−ln(u)/w`` (an Exp(w) sample —
    ES's own equivalent formulation; take the k SMALLEST). Strictly
    decreasing in ``u^(1/w)``, so it selects the IDENTICAL sample as the
    pow form at any weight — but the relative spacing of keys survives
    arbitrarily large weights where ``u^(1/w)`` saturates toward 1.0.
    Unrounded (selection only — the certified VALUE contract lives on
    the rounded pow form in q50). Non-positive weights map to +∞-like
    NULL (dropped by ``weighted_sample``)."""
    u = md5_prefix_uniform(key_col, "#" + salt)
    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    return F.when(w > 0, -F.log(u) / w)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: Column | str,
    key_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """k-smallest rows by the exponential A-ES key — a deterministic
    weight-proportional sample without replacement, robust at any weight
    scale. Rows with non-positive weight are excluded. Adds ``wrs_key``
    (the exponential form); ties (measure-zero unrounded) break on the
    document key ascending so the sample is exactly reproducible."""
    keyed = df.withColumn(
        "wrs_key", wrs_exp_key(weight_col, key_col, salt)
    ).filter(F.col("wrs_key").isNotNull())
    return keyed.orderBy(F.asc("wrs_key"), F.asc(key_col)).limit(k)


def content_bucket16(key_col: str) -> Column:
    """16-bit content-addressed bucket of a key column (md5 nibbles 1-4) —
    the shared primitive behind stratified_sample and any other
    deterministic-fraction selection. Pure per-row arithmetic."""
    h = F.md5(F.col(key_col).cast("string"))
    nib = lambda i: F.instr(F.lit(HEX), F.substring(h, i, 1)) - 1  # noqa: E731
    return ((((nib(1) * 16 + nib(2)) * 16 + nib(3)) * 16) + nib(4)).cast("int")


def with_sample_flag(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    flag_col: str = "in_sample",
) -> DataFrame:
    """Deterministic stratified-sampling MEMBERSHIP as columns: adds
    ``bucket16`` and boolean ``flag_col`` (true iff the row's 16-bit md5
    bucket falls below ``fraction × 65536`` for its group). Pure per-row
    expression — callers that need the flag next to every row (audit
    frames, driver queries) use this directly instead of joining against
    the filtered sample, which would put a corpus-proportional frame on a
    join (a broadcast of ~fraction × corpus is a scale bug, not a
    shuffle saving)."""
    bucket16 = content_bucket16(key_col)
    thresh = None
    for grp, frac in fractions.items():
        cut = int(round(frac * 65536))
        cond = F.col(group_col) == grp
        thresh = F.when(cond, cut) if thresh is None else thresh.when(cond, cut)
    thresh = (
        F.lit(int(round(default_fraction * 65536)))
        if thresh is None
        else thresh.otherwise(int(round(default_fraction * 65536)))
    )
    return df.withColumn("bucket16", bucket16.cast("int")).withColumn(
        flag_col, F.col("bucket16") < thresh
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic content-addressed stratified sampling: keep a row iff
    its 16-bit md5 bucket falls below ``fraction × 65536`` for its group.

    The pipeline-grade replacement for ``df.sample()``: re-runs, re-shards
    and cluster-size changes NEVER change the sample (no RNG, no
    partition-dependent seed) — the same property the content-keyed
    hash_split gives train/val/test. Narrow (per-row), zero shuffles.
    Adds ``bucket16``; rows in groups absent from ``fractions`` are kept
    at ``default_fraction``."""
    return (
        with_sample_flag(
            df, fractions, group_col, key_col, default_fraction, flag_col="_keep"
        )
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def temperature_fractions(
    token_counts: dict[str, int], alpha: float, target_tokens: int
) -> dict[str, float]:
    """Driver-side mixing recipe: per-source keep fractions so sampled
    tokens per source ∝ tokens_s^alpha (the LLaMA/multilingual-LM
    "temperature" reweighting — alpha=1 keeps natural proportions,
    alpha=0 equalizes sources), scaled to ~``target_tokens`` total.

    No upsampling: a source whose share exceeds its size caps at 1.0 and
    the shortfall is water-filled over the uncapped sources (iteratively, at
    most len(sources) rounds — k is the number of DOMAINS, driver-trivial).
    Deterministic: pure arithmetic over the counts, with the weight sum
    accumulated in SORTED source order (round-8: dict order follows the
    collect's row order, and a different float-summation order could
    flip a keep-threshold by one bucket across runs — the
    design-the-float-trap-out rule; sorted-order folding also makes the
    recipe engine-replayable, which q50's 'tmix' arm certifies).
    ``budget`` stays integer-valued throughout (float(target) minus
    integer counts — exact in a double), so the cap-subtraction order
    over a set cannot drift."""
    if not token_counts or target_tokens <= 0:
        return {s: 0.0 for s in token_counts}
    capped: dict[str, float] = {}
    remaining = dict(token_counts)
    budget = float(target_tokens)
    while remaining:
        weights = {s: (n ** alpha if n > 0 else 0.0) for s, n in remaining.items()}
        wsum = 0.0
        for s in sorted(weights):
            wsum += weights[s]
        if wsum <= 0:
            capped.update({s: 0.0 for s in remaining})
            break
        newly_capped = {
            s for s, w in weights.items()
            if budget * w / wsum >= remaining[s]
        }
        if not newly_capped:
            capped.update(
                {s: (budget * weights[s] / wsum) / remaining[s] for s in remaining}
            )
            break
        for s in newly_capped:
            capped[s] = 1.0
            budget -= remaining.pop(s)
    return capped


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.7,
    target_tokens: int = 100_000,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    flag_col: str = "in_mix",
) -> DataFrame:
    """Temperature-based source mixing: ONE partial-agg groupBy collects
    k per-source token totals to the driver (k = number of domains, never
    data-sized), ``temperature_fractions`` turns them into keep rates,
    and membership is the same narrow content-addressed per-row
    expression as ``with_sample_flag`` — re-run/re-shard stable, zero
    shuffles beyond the k-row count, no corpus-sized join or broadcast."""
    from ..session import collect_bounded

    # k = number of DOMAINS by contract; the guard catches a caller that
    # hands a data-sized group column (doc_id as "source")
    counts = {
        r[group_col]: r["_n"]
        for r in collect_bounded(
            df.groupBy(group_col).agg(
                F.sum(F.size(_tokens(text_col)).cast("bigint")).alias("_n")
            ),
            100_000,
            "temperature_mix domain counts",
        )
    }
    if None in counts:
        # with_sample_flag's equality predicate can never match NULL, so
        # a null-source group would be counted and budgeted here yet
        # silently excluded from the mix (under-filling target_tokens by
        # its whole allocation) — refuse loudly instead.
        raise ValueError(
            f"temperature_mix: {group_col} contains NULL rows — coalesce "
            f"the group column (e.g. to '__unknown__') before mixing"
        )
    fracs = temperature_fractions(counts, alpha, target_tokens)
    return with_sample_flag(
        df, fracs, group_col, id_col, default_fraction=0.0, flag_col=flag_col
    )


def length_bucketed_batches(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    n_buckets: int = 4,
    batch_size: int = 8,
) -> DataFrame:
    """Length-bucketed inference batching: ntile length quantiles per
    group (documents of similar token count land together), then
    fixed-size batch ids within each bucket — the standard
    padding-minimizing batch layout for transformer inference/training
    (batch cost is max-length × batch-size; mixing a 10-token doc into a
    4k-token batch pads 400×). Appends ``len_bucket`` (1-based quartile)
    and ``infer_batch`` (0-based batch id within the bucket).

    Deterministic: both windows order by (n_tokens, id) — total order,
    so bucket edges and batch membership are reproducible cross-engine
    and cross-run. Scale: windows partition by the group key (same key
    as the packing windows — one shuffle serves all), never globally.
    """
    w = Window.partitionBy(group_col).orderBy(n_tokens_col, id_col)
    out = df.withColumn("len_bucket", F.ntile(n_buckets).over(w).cast("int"))
    wb = Window.partitionBy(group_col, "len_bucket").orderBy(n_tokens_col, id_col)
    return out.withColumn(
        "infer_batch",
        F.floor((F.row_number().over(wb) - 1) / batch_size).cast("bigint"),
    )


def gate_audit(
    df: DataFrame,
    gates: Sequence[tuple[str, Column]],
    out_col: str = "first_failed",
) -> DataFrame:
    """Filter-pipeline OBSERVABILITY (the per-example provenance a real
    curation pipeline ships with): instead of dropping rows, tag each row
    with the name of the FIRST gate whose predicate fails — null means
    every gate passed. Gate order is the pipeline's own order, so each
    row is attributed to exactly ONE gate and per-gate drop counts sum to
    the total drop count (the property that makes the audit actionable:
    'which stage costs me the most data, per source?').

    A NULL predicate counts as FAILED (fail-closed — an unparseable field
    must surface in the audit, not silently pass the gate). Pure narrow
    projection: zero shuffles, zero cost beyond the predicate expressions
    themselves; stage-membership predicates that need context (e.g.
    "survived dedup") are joined in by the caller as a flag column first
    (q41's audit arm is the worked example)."""
    if out_col in df.columns:
        # withColumn would silently replace the caller's data (the
        # upsert _bucket/_is_new rule)
        raise ValueError(
            f"gate_audit: frame already has a {out_col!r} column — pass a "
            "different out_col"
        )
    expr = F.lit(None).cast("string")
    for name, pred in reversed(list(gates)):
        expr = F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)
