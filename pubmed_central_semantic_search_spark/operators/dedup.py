"""Deduplication operators (SURVEY §2.9 X1/X2; BASELINE north star).

Anchored to the reference's hash-keyed idempotent upsert
(``/root/reference/src/backend/database/qdrant.py:137-139,159`` — a stable
content-derived key makes re-upload an overwrite, i.e. exact dedup) and its
embedding/cosine machinery (near-dup generalization).

Scale design notes (the point of each shape at 100 TB):

- exact dedup: one shuffle on the content hash; keep-min-id via
  ``row_number`` or min-aggregate. Never collects; never compares texts
  pairwise.
- MinHash: the signature is a pure per-row expression (k ``array_min``
  folds over the per-row shingle array) and so are the LSH band keys —
  ZERO shuffles until the candidate equi-join on (band, band_key), which
  is therefore the first wide op in the pipeline. Only documents sharing
  a band key ever meet. Hash functions are md5-derived 32-bit ints
  (identical in DuckDB → oracle-checkable end to end).
- SimHash: 32 integer folds over the per-row distinct-token hash array —
  fully narrow; near-dup = hamming distance on the 32-bit fingerprint,
  blocked by byte bands (the band equi-join is the only shuffle).
- Embedding near-dup: cosine self-join is quadratic unless blocked — block
  on a cheap key (label, length bucket) or the hyperplane-LSH buckets from
  ``operators/ann.py``.

Everything below is pure DataFrame/Catalyst — no UDFs, no driver loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .curation import _tokens
from ..functions.vector import dot, l2_norm


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    order_col: str,
) -> DataFrame:
    """X1 — keep exactly one row (min ``order_col``) per distinct content.

    ``row_number`` over the content hash, not ``dropDuplicates``: the
    survivor is deterministic (the reference's re-upload semantics pick a
    stable winner via the content key; arbitrary-winner dedup is not
    reproducible run-to-run)."""
    w = Window.partitionBy(*[F.md5(F.col(c)) for c in content_cols]).orderBy(
        F.col(order_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """X1/X2 — repeated-SUBSTRING detection (the ExactSubstr pass of Lee
    et al., "Deduplicating Training Data Makes Language Models Better",
    ACL'22): find every maximal token span whose ``window``-token windows
    all occur verbatim in ≥ ``min_docs`` documents. Whole-doc exact dedup
    misses boilerplate paragraphs shared across otherwise-distinct
    documents; this pass marks them for surgical removal.

    Returns (doc_id, span_start, span_end, n_windows) — token coordinates
    [span_start, span_end) over the empties-dropped whitespace
    tokenization; one row per maximal run of CONSECUTIVE hot window
    positions (a verbatim-duplicated substring has ALL of its windows
    hot at step-1 positions, so only step-1 runs merge; hot windows with
    a position gap — even an overlapping gap < ``window`` — start a new
    span, because some interior window between them is NOT hot and the
    merged span would contain never-duplicated windows). Spans from
    gap-separated hot windows may overlap in token coordinates; each
    individually satisfies the all-windows-hot contract.

    Scale shape: window hashes are a narrow per-row explode (never a
    token-stream shuffle); "hot" windows are ONE partial-agg groupBy on
    the window hash; hits are an equi-join of the window view against the
    hot set (output-bounded); the island merge is a per-doc sort of HIT
    windows only — candidate-sized, not corpus-sized. The suffix-array
    construction of the paper is replaced by the hash-window blocking
    because sorting a 100 TB suffix array is the one shape Spark should
    not attempt; ``window`` plays the paper's min-match-length role.
    """
    toks = _tokens(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    wins = base.select(
        "doc_id",
        F.col("_toks"),
        F.explode(
            F.when(
                F.size("_toks") >= window,
                F.sequence(F.lit(0), F.size("_toks") - window),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.md5(
            F.array_join(F.slice("_toks", F.col("pos") + 1, window), " ")
        ).alias("h"),
    )
    hot = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h")
    )
    hits = wins.join(hot, "h").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "_brk",
        F.when(F.col("pos") - F.lag("pos").over(w_ord) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_isl")
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "text_cut",
) -> DataFrame:
    """ExactSubstr follow-through: REMOVE duplicated spans, keeping each
    distinct span text in exactly one document (the lowest doc id that
    contains it — deterministic, matching this package's survivor rule).

    ``spans`` is ``repeated_ngram_spans`` output. Per doc the cut is a
    pure array expression over token POSITIONS: a token is removed iff it
    lies inside a span this doc must cut AND inside no span this doc
    keeps. The keep-guard matters because gap-separated islands may
    OVERLAP by up to window−1 tokens — without it, cutting an overlapping
    neighbor span would truncate the very copy this doc was elected to
    keep (and a span text could survive in NO document). With it, every
    distinct span text survives verbatim in its keeper. Docs with no
    spans pass through untouched (left join).

    Scale shape: span texts are recovered by slicing the token array
    (span-sized work, not corpus-sized), the keeper election is one
    groupBy on the span text hash (spans are a vanishing fraction of the
    corpus), and the cut itself is a narrow projection after ONE
    broadcast-or-shuffle join of docs to their own spans."""
    toks = _tokens(text_col)
    with_toks = df.withColumn("_toks", toks)
    located = spans.join(
        with_toks.select(F.col(id_col).alias("doc_id"), "_toks"), "doc_id"
    ).select(
        "doc_id",
        "span_start",
        "span_end",
        F.md5(
            F.array_join(
                F.slice(
                    "_toks",
                    F.col("span_start").cast("int") + 1,
                    (F.col("span_end") - F.col("span_start")).cast("int"),
                ),
                " ",
            )
        ).alias("_span_key"),
    )
    keeper = located.groupBy("_span_key").agg(F.min("doc_id").alias("_keep_doc"))
    owned = located.join(keeper, "_span_key")
    cuts = (
        owned.filter(F.col("doc_id") != F.col("_keep_doc"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_cuts")
        )
    )
    keeps = (
        owned.filter(F.col("doc_id") == F.col("_keep_doc"))
        .groupBy(F.col("doc_id").alias("_kdoc"))
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_keeps")
        )
    )
    joined = (
        with_toks.join(cuts, with_toks[id_col] == cuts["doc_id"], "left")
        .drop(cuts["doc_id"])
        .join(keeps, F.col(id_col) == F.col("_kdoc"), "left")
        .drop("_kdoc")
    )
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    in_range = lambda s: (  # noqa: E731
        lambda c: (s["i"] >= c["span_start"]) & (s["i"] < c["span_end"])
    )
    kept = F.filter(
        F.transform("_toks", lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(F.coalesce("_cuts", empty), in_range(s))
        | F.exists(F.coalesce("_keeps", empty), in_range(s)),
    )
    return joined.withColumn(
        out_col, F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    ).drop("_toks", "_cuts", "_keeps")


def shingle_array(text_col: Column | str, n: int = 3) -> Column:
    """DISTINCT n-gram token shingles of a text column as an array —
    a pure per-row expression (``transform(sequence(...))``): the narrow
    primitive under every shingle consumer. (An earlier lead-window
    version shuffled the whole token stream on doc id just to line up
    neighbors that were already adjacent in the array — at 100 TB that
    shuffle is the corpus itself.)"""
    text_col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = _tokens(text_col)
    # guard: sequence(1, 0) would run DESCENDING for docs shorter than n
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct n-gram token shingles per document, exploded:
    (id, n_sh, shingle) — the inverted-index feed for the Jaccard joins.
    Narrow until the explode; no shuffle. ``n_sh`` (the doc's distinct-
    shingle count) rides along from the same projection, so Jaccard
    consumers never need a separate per-doc count aggregate + reattach
    join."""
    # Two-step select on purpose: expressions that share a projection with
    # a generator are re-evaluated PER OUTPUT ROW (Spark evaluates the
    # non-generator columns after the explode) — inlining `grams` twice
    # here cost ~10× on the Jaccard queries. Materializing the array once
    # makes the per-output-row work a column reference.
    grams = shingle_array(text_col, n)
    return df.select(F.col(id_col).alias("_id"), grams.alias("_g")).select(
        "_id",
        F.size("_g").alias("n_sh"),
        F.explode("_g").alias("shingle"),
    )


def hash32(col: Column | str, seed: int) -> Column:
    """Seeded 32-bit integer hash, cross-engine reproducible:
    first 8 hex chars of md5(value ⊕ seed-tag) → bigint.

    (xxhash64 would be faster JVM-side but has no DuckDB twin; the md5
    variant is the oracle-checkable default, and the hash cost is dwarfed
    by the shuffle it feeds.)"""
    col = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 8), 16, 10
    ).cast("bigint")


def minhash_signature_frame(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """(_id, _sig) with the shingle array materialized ONCE per row in a
    prior projection (the k hash folds then reference an attribute, not k
    copies of the tokenize/slice/distinct tree). Shingle-less docs drop
    out (NULL first signature slot)."""
    staged = df.select(
        F.col(id_col).alias("_id"),
        shingle_array(text_col, shingle_n).alias("_g"),
    )
    sig = F.array(
        *[
            F.array_min(F.transform("_g", lambda s: hash32(s, i)))
            for i in range(n_hashes)
        ]
    )
    return staged.select("_id", sig.alias("_sig")).filter(
        F.col("_sig")[0].isNotNull()
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(_id, band, band_key) — the LSH blocking view of a corpus: one row
    per (doc, band), band_key = that band's signature slice as a string.
    FULLY NARROW (signature and slices are per-row expressions), so it
    works unchanged on a STREAMING DataFrame, and at rest it is the table
    to materialize (partitioned/bucketed by (band, band_key)) so both the
    batch self-join and the stream-static probe read it instead of
    re-shingling the corpus."""
    if n_hashes % bands:
        # Silent truncation would compute hashes that never enter any
        # band — the caller tuned an (n_hashes, bands) threshold curve
        # but would get a different one. Loud, like pq_encode's ragged-
        # codebook check.
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} "
            "(trailing hashes would be silently discarded)"
        )
    rows_per_band = n_hashes // bands
    sig = minhash_signature_frame(df, id_col, text_col, n_hashes, shingle_n)
    return sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.array_join(
                    F.transform(
                        F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                        lambda h: h.cast("string"),
                    ),
                    "_",
                ),
            )
        ).alias("band", "band_key"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_band_freq: int | None = None,
) -> DataFrame:
    """X2 — LSH banding: docs sharing any band's full signature slice become
    candidate pairs (id_a < id_b, distinct). Equi-join on (band, band_key)
    — never quadratic; the EXPLICIT two-part key means a refactor can't
    silently degrade it to a hot single-key join.

    Everything before the join is narrow: signature and band keys are
    per-row expressions (``minhash_band_keys``), so the candidate
    equi-join is the FIRST shuffle in the whole pipeline.

    ``max_band_freq`` — the STOP-BAND cap (round-10, measured: one
    template at 20% of an 8× corpus collapses most of its copies into a
    single band bucket, and that bucket's self-join alone emits
    ~members²/2 pairs on one reducer — boilerplate is the n-gram
    ``max_doc_freq`` pathology expressed through the signature instead of
    the shingle). Band buckets holding more than this many docs are
    DROPPED before the self-join, bounding both the hot key's single-task
    product and the output volume. Semantics: a pair is lost ONLY if
    every band it collides in is over the cap — template clusters that
    big are exact-dup/boilerplate material that belongs to the cheaper
    upstream passes (exact_dedup, stop-shingle), not pairwise LSH.
    Default ``None`` = exact current semantics (the oracle-checked mode)."""
    band_keys = minhash_band_keys(df, id_col, text_col, n_hashes, bands, shingle_n)
    return _band_candidate_pairs(band_keys, max_band_freq)


def _band_candidate_pairs(
    band_keys: DataFrame, max_band_freq: int | None = None
) -> DataFrame:
    """The band-key self-join (ONE definition so ``near_dup_minhash``'s
    persisted variant cannot drift from ``minhash_candidate_pairs``):
    equi-join on the explicit (band, band_key) pair, ordered ids,
    distinct. With ``max_band_freq``, over-cap band buckets are dropped
    via a window count BEFORE the join — one extra shuffle on the same
    (band, band_key) key the join shuffles on anyway, so AQE/exchange
    reuse keeps the partitioning."""
    if max_band_freq is not None:
        w = Window.partitionBy("band", "band_key")
        band_keys = (
            band_keys.withColumn("_bfreq", F.count(F.lit(1)).over(w))
            .filter(F.col("_bfreq") <= max_band_freq)
            .drop("_bfreq")
        )
    a = band_keys.select(F.col("_id").alias("id_a"), "band", "band_key")
    b = band_keys.select(F.col("_id").alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def near_dup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_band_freq: int | None = None,
) -> DataFrame:
    """X2 end-to-end: LSH candidates → true-Jaccard verify → threshold.

    Returns (id_a, id_b, n_intersect, n_union, jaccard). The per-doc
    shingle counts ride the exploded shingle rows (narrow — see
    ``shingles``) and come out of the intersection aggregate as
    ``first()``s, so the verify stage is ONE aggregate after the
    inverted-index joins — no count-reattach joins re-deriving the corpus.

    The two derived views that feed self-joins ARE materialized here
    (``persist()``): the shingle view feeds both verify sides and the
    band-key view feeds both candidate sides, so the corpus parquet is
    scanned (and the md5 shingle/signature work computed) ONCE per view
    instead of once per join side — at 100 TB these persists become the
    intermediate parquet tables of the docstring's scale recipe.

    Cache contract (round-8): both persists are ATTACHED to the returned
    frame — after the consuming action, call
    ``session.release_cached_deps(result)`` (or clear the cache); without
    it repeated invocations in one long session accrete storage memory.

    ``max_band_freq`` — the stop-band cap against boilerplate hot bands
    (see ``minhash_candidate_pairs``, measured in SURVEY §7.7's skew
    table); default None keeps exact semantics."""
    from ..session import attach_cached_deps

    sh = shingles(df, id_col, text_col, shingle_n).persist()
    band_keys = minhash_band_keys(
        df, id_col, text_col, n_hashes, bands, shingle_n
    ).persist()
    pairs = _band_candidate_pairs(band_keys, max_band_freq)
    sh_a = sh.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
    sh_b = sh.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle")
    inter = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_intersect"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    out = inter.select(
        "id_a",
        "id_b",
        "n_intersect",
        (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).alias("n_union"),
        F.round(
            F.col("n_intersect")
            / (F.col("n_a") + F.col("n_b") - F.col("n_intersect")),
            6,
        ).alias("jaccard"),
    )
    return attach_cached_deps(
        out.filter(F.col("jaccard") >= min_jaccard), [sh, band_keys]
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """X2 — EXACT n-gram Jaccard near-dup (no MinHash approximation).

    Inverted-index shape: only documents sharing ≥1 shingle ever meet
    (equi-join on shingle), so the join is output-bounded, not |docs|².
    ``max_doc_freq`` drops shingles appearing in more than that many docs
    (the CCNet/Gopher "stop n-gram" tactic) — at 100 TB a handful of
    boilerplate shingles would otherwise create quadratic hot keys; with a
    cap the intersection undercounts those pairs only, and union counts
    stay exact. Default ``None`` = exact Jaccard (the oracle-checked mode).

    Returns (id_a, id_b, n_intersect, n_union, jaccard ≥ threshold).
    Per-doc counts ride the shingle rows (see ``shingles``) with no
    count-reattach joins. Semantics under ``max_doc_freq``: capped (hot)
    shingles leave the intersection count, but the per-doc totals still
    include them — so for pairs that SHARE a capped shingle, ``n_union``
    is OVERCOUNTED by the number of capped shared shingles and
    ``jaccard`` is conservatively DEFLATED (never inflated; a pair can
    only be missed, never falsely promoted past the threshold by the
    cap). Exact values need ``max_doc_freq=None``. The shingle view is
    persisted — it feeds both join sides (and the doc-freq aggregate when
    capped), so the corpus is scanned and shingled once. Cache contract
    (round-8): the persist is ATTACHED to the returned frame — call
    ``session.release_cached_deps(result)`` after the consuming action."""
    from ..session import attach_cached_deps

    sh = shingles(df, id_col, text_col, shingle_n).persist()
    joinable = sh
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        joinable = sh.join(
            freq.filter(F.col("_df") <= max_doc_freq).select("shingle"), "shingle"
        )
    inter = (
        joinable.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle")
        .join(
            joinable.select(
                F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"
            ),
            "shingle",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_intersect"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    out = inter.select(
        "id_a",
        "id_b",
        "n_intersect",
        (F.col("n_a") + F.col("n_b") - F.col("n_intersect")).alias("n_union"),
        F.round(
            F.col("n_intersect")
            / (F.col("n_a") + F.col("n_b") - F.col("n_intersect")),
            6,
        ).alias("jaccard"),
    )
    return attach_cached_deps(out.filter(F.col("jaccard") >= min_jaccard), [sh])


def simhash32(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """X2 — 32-bit SimHash fingerprint per document: per-bit signed sums of
    distinct-token hashes, majority → bit. (id, simhash); token-less docs
    drop out (set semantics).

    FULLY NARROW: distinct tokens via ``array_distinct`` (per-row), token
    hashes materialized once per row in a pipelined projection, then 32
    integer folds over that array. The earlier shape exploded tokens,
    ``distinct()``-ed (corpus shuffle #1) and bit-summed in a groupBy
    (corpus shuffle #2) — two shuffles to compute a pure row function.
    Integer sums are order-free, so values are unchanged."""
    toks = F.array_distinct(
        _tokens(text_col)
    )
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.when(
            F.size(toks) > 0, F.transform(toks, lambda t: hash32(t, 0))
        ).alias("_hs"),
    ).filter(F.col("_hs").isNotNull())
    # ONE fold with a 32-slot accumulator instead of 32 independent folds
    # over the token-hash array: identical per-bit integer sums (each slot
    # is the same ±1 sequence the per-bit fold computed), but the analyzer
    # carries one expression tree instead of 32. masks are array<bigint>
    # (1<<31 overflows int32).
    masks = F.array(*[F.lit(1 << i).cast("bigint") for i in range(32)])
    counts = F.aggregate(
        "_hs",
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts, masks, lambda cnt, m: F.when(cnt > 0, m).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return hashed.select("_id", sim.alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """X2 — SimHash near-dup: candidate pairs by byte-band blocking, exact
    Hamming verify on the full 32-bit fingerprint.

    Blocking: the fingerprint splits into ``n_bands`` contiguous bit bands
    (8 bits each at the default 4); docs agreeing on ANY band's value become
    candidates — an equi-join on (band, band_val), never all-pairs. By
    pigeonhole, every pair with hamming < n_bands shares at least one
    intact band, so recall is EXACT for ``max_hamming <= n_bands - 1``;
    larger thresholds trade recall like MinHash banding does.

    Verify: ``bit_count(xor)`` on the two fingerprints — one codegen'd
    integer op per surviving pair. Returns
    (id_a, id_b, simhash_a, simhash_b, hamming <= max_hamming).

    At 100 TB: fingerprints are one partial-agg groupBy (simhash32); the
    band explode is ×n_bands on a table of (id, int64) rows — tiny next to
    the corpus; hot band values (e.g. all-zero bands from short docs) are
    the skew risk, handled the same way as MinHash's boilerplate bands
    (AQE skew-join or a band-value frequency cap upstream).
    """
    # n_bands need not divide 32: trailing uncovered bits only ADD
    # differing positions a candidate pair may hide there, and a pair with
    # hamming < n_bands still has an intact covered band (pigeonhole over
    # the covered bits is a fortiori) — recall is unaffected, the exact
    # verify handles precision.
    band_w = 32 // n_bands
    sig = simhash32(df, id_col, text_col)
    banded = sig.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_w).bitwiseAND(
                        F.lit((1 << band_w) - 1)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("simhash_a"), "band", "band_val"
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("simhash_b"), "band", "band_val"
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash_a", "simhash_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "simhash_a",
        "simhash_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        .cast("bigint")
        .alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    check_every: int = 1,
) -> DataFrame:
    """X1/X2 follow-through — resolve near-dup PAIRS into duplicate CLUSTERS.

    Returns ``(id, component)`` for every node appearing in ``pairs``, where
    ``component`` is the smallest id reachable through any chain of pairs.
    This is the step a 100 TB dedup actually needs after pair generation:
    near-duplication is transitive in practice (A≈B≈C with A,C below the
    pair threshold), and survivors must be picked per CLUSTER — picking per
    pair leaves chained duplicates alive.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    O(log n) rounds on ANY graph shape (naive min-label propagation needs
    O(diameter) rounds, which a duplicate chain makes linear). Each round is
    two self-equi-joins plus one aggregate — no driver-side graph, nothing
    quadratic. ``localCheckpoint`` truncates the per-round lineage so the
    plan doesn't grow with iterations; convergence is detected by a
    (count, hash-sum) signature of the edge set — one cheap action per
    check instead of a full set comparison.

    ``check_every`` batches that many large+small-star rounds per
    signature action (lazy checkpoints chain, so N rounds fold into ONE
    job). The default 1 is the 100 TB profile: there a wasted
    post-convergence round of corpus-sized shuffles costs far more than
    a driver round-trip. On a latency-bound deployment (small data, many
    rounds) ``check_every=2`` halves driver actions and wastes at most
    one cheap round.
    """
    if check_every < 1:
        raise ValueError(f"check_every must be >= 1, got {check_every}")
    edges = (
        pairs.select(F.col(src).cast("bigint").alias("a"), F.col(dst).cast("bigint").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # For each node u over its FULL neighborhood: attach every larger
        # neighbor to m = min(N(u) ∪ {u}).
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # For each node u over its SMALLER neighbors N⁻(u): attach them and
        # u itself to m = min(N⁻(u)). Input is canonically oriented u > v.
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        rooted = mins.select("u", F.col("m").alias("v"))
        return moved.union(rooted).distinct()

    prev_sig = None
    for _ in range(0, max_iter, check_every):
        # Lazy checkpoints: the signature aggregate below is the ONE
        # action that materializes all `check_every` rounds of this batch.
        for _r in range(check_every):
            edges = small_star(large_star(edges)).localCheckpoint(eager=False)
        # (count, xor-of-hashes): order-insensitive, overflow-free (unlike
        # sum under ANSI mode), equal ⟺ same edge set up to 2^-64 collisions.
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # Fixpoint is a star forest (u → root); roots label themselves.
    return (
        edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("id"), F.col("v").alias("component")))
        .distinct()
    )


def assign_components(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    check_every: int = 1,
    survivor_order: Sequence[Column] = (),
) -> DataFrame:
    """Label every row of ``df`` with its duplicate-cluster id: nodes absent
    from ``pairs`` are their own singleton component. Adds ``component`` and
    ``is_survivor``.

    Default keeper = the cluster's minimum id (deterministic, mirroring
    exact_dedup's min-winner rule, zero extra shuffle — the component IS
    the min id). ``survivor_order`` switches to QUALITY-AWARE survivor
    election (the production near-dup rule: keep the best duplicate, not
    the oldest — e.g. ``[F.desc("quality_milli")]`` or
    ``[F.desc(F.length("text"))]``): the survivor is each component's
    first row under (survivor_order…, id asc) — the id tiebreak keeps the
    election total, so equal-quality duplicates elect deterministically.
    Cost: one extra hash-partition window on ``component`` (components
    are duplicate clusters — tiny fan-in; the shuffle is corpus-sized in
    rows but carries only the order columns)."""
    labels = connected_components(pairs, src, dst, check_every=check_every)
    out = df.join(labels, df[id_col] == labels["id"], "left").select(
        *df.columns,
        F.coalesce("component", F.col(id_col).cast("bigint")).alias("component"),
    )
    if not survivor_order:
        return out.withColumn(
            "is_survivor", F.col(id_col).cast("bigint") == F.col("component")
        )
    w = Window.partitionBy("component").orderBy(
        *survivor_order, F.col(id_col).asc()
    )
    return out.withColumn("is_survivor", F.row_number().over(w) == 1)


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    min_cosine: float = 0.95,
    allow_full_cross: bool = False,
) -> DataFrame:
    """X2/X3 — cosine near-dup self-join. ``block_col`` keys the equi-join
    (label, length bucket, or an LSH bucket from operators/ann.py);
    ``None`` means a full cross join — correctness baseline only, never the
    100 TB path, and therefore FENCED: the bare ``block_col=None`` call
    raises (the package's named-error discipline — a docstring warning did
    not stop a caller from shipping an O(n²) cartesian to a cluster);
    passing ``allow_full_cross=True`` states the opt-in explicitly."""
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "embedding_near_dup: block_col=None is a FULL CROSS JOIN — "
            "O(n²) pairs, the correctness baseline only. Pass a blocking "
            "column (label, LSH bucket, cluster_id) for the scale path, or "
            "allow_full_cross=True to opt into the cartesian explicitly."
        )
    # Norms depend on one side only — compute them once per ROW before the
    # join instead of once per PAIR after it (the pair count is quadratic in
    # the block size; this cuts per-pair work from 3 folds to 1). The final
    # expression keeps the exact dot/(n_a*n_b) evaluation order, so results
    # are bit-identical to cosine_similarity().
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        l2_norm(vec_col).alias("n_a"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        l2_norm(vec_col).alias("n_b"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    joined = a.join(b, on="_blk") if block_col else a.crossJoin(b)
    # zero-norm guard (cosine_similarity's convention): a degenerate
    # vector is never a near-dup instead of DIVIDE_BY_ZERO under ANSI
    n2 = F.col("n_a") * F.col("n_b")
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.when(n2 > 0, dot("v_a", "v_b") / n2).otherwise(F.lit(0.0)),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    keep: str = "min_id",
    check_every: int = 1,
) -> DataFrame:
    """X2/X7 composition — SemDeDup (Abbas, Tirumala, Simig, Ganguli,
    Morcos, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", arXiv:2303.09540, public method): k-means
    partition the embedding space, find cosine near-duplicates WITHIN
    clusters only, resolve them into components, keep one per component.

    ``centroids`` are prebuilt (``clustering.seed_centroids`` /
    ``lloyd_kmeans`` — sample-trained at scale). ``keep`` picks the
    survivor rule: ``min_id`` (this package's deterministic default) or
    ``far_from_centroid`` (the paper's rule — keep the member with the
    LOWEST cosine to its cluster centroid, maximizing diversity of what
    remains; ties → lowest id).

    Returns ``df`` + (cluster_id, component, is_survivor).

    Scale shape, stage by stage: assignment is a pure projection
    (``nearest_centroid``, no join); the near-dup self-join is blocked
    on cluster_id (the SemDeDup insight — the quadratic pair space
    shrinks to per-cluster blocks, and at 100 TB the corpus is stored
    partitioned by cluster so the self-join is partition-local);
    components run on candidate pairs only (O(log n) star rounds); the
    survivor election is one window over components (vanishingly small
    vs the corpus).

    Cache contract (round-8): the persisted assigned view is ATTACHED to
    the returned frame — call ``session.release_cached_deps(result)``
    after the consuming action (the near-dup/CC scans inside this
    function already consumed it; releasing costs at most one narrow
    re-projection if the result is re-collected)."""
    from .clustering import _ranked_centroids, nearest_centroid
    from ..session import attach_cached_deps

    # persisted: both near-dup join sides, the component labeling, and
    # the survivor election all read the assigned view — at rest this is
    # the corpus stored partitioned by cluster_id, computed once
    assigned = df.withColumn(
        "cluster_id", nearest_centroid(vec_col, centroids)
    ).persist()
    pairs = embedding_near_dup(
        assigned, id_col, vec_col, block_col="cluster_id", min_cosine=min_cosine
    ).select("id_a", "id_b")
    labeled = assign_components(
        assigned, id_col, pairs, check_every=check_every
    )
    if keep == "min_id":
        return attach_cached_deps(labeled, [assigned])
    if keep != "far_from_centroid":
        raise ValueError(f"unknown keep rule: {keep}")
    best = F.element_at(_ranked_centroids(vec_col, centroids), 1)
    nv = l2_norm(vec_col)
    # zero-norm guard: a degenerate member sorts as "closest" (cos 1.0 is
    # unreachable for real members after the round) rather than raising
    cent_cos = F.when(nv > 0, (-best.getField("nsim")) / nv).otherwise(F.lit(1.0))
    w = Window.partitionBy("component").orderBy(
        F.asc("_cent_cos"), F.col(id_col).cast("bigint")
    )
    return attach_cached_deps(
        labeled.drop("is_survivor")
        .withColumn("_cent_cos", cent_cos)
        .withColumn("is_survivor", F.row_number().over(w) == 1)
        .drop("_cent_cos"),
        [assigned],
    )


def fuzzy_string_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "title",
    max_dist: int = 2,
    q: int = 3,
    gram_cap: int = 1000,
) -> DataFrame:
    """Edit-distance similarity join (entity resolution / near-identical
    titles): pairs with ``levenshtein(a, b) <= max_dist``, found WITHOUT
    an all-pairs comparison.

    Blocking: the q-gram count filter — each edit destroys at most q
    positional q-grams, so for strings of length ≥ q·(d+1)+d a pair
    within d edits MUST share a q-gram (pigeonhole); strings below that
    bound additionally join one shared ``#short`` band, and any
    qualifying partner of such a string is itself below the bound
    (|len(a) − len(b)| ≤ d), so recall is EXACT at every length
    (property-pinned against brute force). Shape: narrow gram explode →
    hot-gram cap (boilerplate grams occurring in more than ``gram_cap``
    strings are dropped, the stop-shingle rule — the ``#short`` band is
    exempt because dropping it would break the recall guarantee; corpora
    dominated by short strings should raise q or pre-bucket) →
    self-equi-join on the gram (the inverted-index shape of
    ``ngram_jaccard_pairs``, never a cross join) → distinct candidate
    pairs → ``F.levenshtein`` verify, output-bounded.

    Recall stays EXACT even when the cap fires: within d edits at most
    q·d of a string's DISTINCT grams can be absent from its partner
    (each absent distinct gram needs a destroyed occurrence at a
    distinct position, and d edits destroy at most q·d positions), so a
    string that keeps at least q·d + 1 non-hot grams meets every
    qualifying partner through a kept gram (hotness is global — a shared
    non-hot gram is kept on BOTH sides). Strings left with q·d or fewer
    non-hot grams — only possible when the cap dropped their grams, since
    length at the pigeonhole bound already yields q·d + d + 1 distinct
    grams — are routed into the shared ``#short`` band: risky–risky and
    risky–short pairs meet there, safe–risky pairs meet via the safe
    side's kept gram. The band's quadratic verify grows only by the
    (rare) all-boilerplate strings; cap-fired exactness is test-pinned
    with a cap small enough to trigger the path.

    Returns (id_a, id_b, dist) with id_a < id_b."""
    strs = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).cast("string").alias("_s")
    ).filter(F.col("_s").isNotNull())
    n = F.length("_s")
    qgrams = F.when(
        n >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - q + 1),
                lambda i: F.substring(F.col("_s"), i, F.lit(q)),
            )
        ),
    ).otherwise(F.array())
    # Below q(d+1)+d chars the pigeonhole bound is void (d edits can kill
    # every shared gram), so short strings ALSO join one shared "#short"
    # band: any qualifying partner of a string shorter than the bound is
    # itself shorter than the bound (|len diff| ≤ d), so recall is exact
    # at EVERY length; the band's verify cost is (#short strings)², which
    # the length filter keeps to genuinely short rows.
    min_guaranteed = q * (max_dist + 1) + max_dist
    gram_arr = F.when(
        n < min_guaranteed,
        F.concat(qgrams, F.array(F.lit("#short"))),
    ).otherwise(qgrams)
    grams = strs.select("_id", "_s", F.explode(gram_arr).alias("gram"))
    # stop-gram cap: one partial-aggregated count over the gram stream
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") > gram_cap) & (F.col("gram") != "#short"))
        .select("gram")
    )
    kept = grams.join(F.broadcast(hot), "gram", "left_anti")
    # Cap-exactness fallback (see docstring): a string whose kept-gram
    # count fell to <= q*d can no longer rely on the pigeonhole — route
    # it into the shared #short band. Without the cap firing this set is
    # EMPTY (length >= bound alone gives q*d + d + 1 distinct grams), so
    # the fallback costs one id-keyed partial aggregate and adds rows
    # only for genuinely all-boilerplate strings.
    kept_counts = (
        kept.filter(F.col("gram") != "#short")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_kept"))
    )
    risky = (
        strs.filter(n >= min_guaranteed)
        .join(kept_counts, "_id", "left")
        .filter(F.coalesce(F.col("_kept"), F.lit(0)) <= q * max_dist)
        .select(F.lit("#short").alias("gram"), "_id", "_s")
    )
    kept = kept.unionByName(risky)
    a = kept.select(
        F.col("gram"), F.col("_id").alias("id_a"), F.col("_s").alias("_sa")
    )
    b = kept.select(
        F.col("gram"), F.col("_id").alias("id_b"), F.col("_s").alias("_sb")
    )
    cands = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
