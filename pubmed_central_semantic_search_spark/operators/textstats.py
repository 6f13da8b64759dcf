"""Text-analysis operators (SURVEY §2.9 X4; north star "text analysis").

Anchored to the reference's string pipeline (chunker F1, cleanup F3-F5) and
generalized to the LLM-pipeline quality stack: language ID, quality
scoring, token counting, document fingerprinting. All pure Catalyst
expressions — per-row, narrow, codegen'd; they scale linearly and never
shuffle (the aggregations over them do, once, on low-cardinality keys).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny deterministic stopword profiles for the n-gram/stopword language-ID
# heuristic. Real deployments swap in fuller profiles; the operator shape
# (argmax over per-language token-hit counts) is the point.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
}


from .curation import _tokens  # the package-shared whitespace tokenizer


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    toks = _tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_PROFILES.items()
    }


def language_id(text: Column | str) -> Column:
    """Predicted language = argmax score, ties broken alphabetically
    (first language in sorted order that is ≥ all later ones wins);
    all-zero scores fall back to 'und'. The CASE chain has a literal SQL
    twin for the oracle."""
    scores = lang_scores(text)
    langs = sorted(scores)
    expr = F.when(F.greatest(*[scores[lg] for lg in langs]) == 0, F.lit("und"))
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token stats, stopword/digit
    ratios, mean token length. Downstream filters threshold on these."""
    toks = _tokens(text_col)
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is")))
    n_digit = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    # Ratios are NULL for token-less docs — and the divisor is clamped so
    # the division itself is defined (under ANSI mode x/0 ERRORS the job,
    # it does not return NULL; CASE does not guard eager branches here).
    safe_n = F.greatest(n_tok, F.lit(1))
    return df.withColumns(
        {
            "n_chars_q": F.length(text_col).cast("bigint"),
            "n_tokens_q": n_tok.cast("bigint"),
            "mean_token_len": F.when(
                n_tok > 0,
                F.round((F.length(text_col) - (n_tok - 1)) / safe_n, 6),
            ),
            "stopword_ratio_q": F.when(n_tok > 0, F.round(n_stop / safe_n, 6)),
            "digit_ratio_q": F.when(n_tok > 0, F.round(n_digit / safe_n, 6)),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score — monotone in "looks like prose": enough
    tokens, sane token length, some stopwords, few digits.

    Computed ENTIRELY in integer arithmetic on a 0-1000 milli scale
    (``quality_milli``), with the float ``quality`` derived at the end.
    Rationale: weighted sums of rounded ratios land exactly on decimal
    rounding boundaries where engines disagree by 1 ulp — integer math is
    bit-deterministic on every engine and at every cluster size."""
    feat = quality_features(df, text_col)
    n_tok = F.col("n_tokens_q")
    n_chars = F.col("n_chars_q")
    toks = _tokens(text_col)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is")))
    n_digit = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    # Divisors clamped to 1: under ANSI mode a zero divisor errors the
    # whole job (it does not yield NULL), and the n_tok = 0 branch is
    # discarded by the guard on `milli` below anyway.
    safe_n = F.greatest(n_tok, F.lit(1))
    len_score = F.least(F.floor(n_tok * 1000 / 32), F.lit(1000))
    mean_len_milli = F.floor((n_chars - (n_tok - 1)) * 1000 / safe_n)
    tok_len_score = F.when(
        (mean_len_milli >= 3000) & (mean_len_milli <= 10000), F.lit(1000)
    ).otherwise(F.lit(500))
    stop_score = F.least(F.floor(n_stop * 5000 / safe_n), F.lit(1000))
    digit_penalty = 1000 - F.least(F.floor(n_digit * 2000 / safe_n), F.lit(1000))
    milli = F.floor(
        (3 * len_score + 2 * tok_len_score + 3 * stop_score + 2 * digit_penalty) / 10
    )
    # Token-less docs must score 0, not ride the NULL-skipping of least():
    # with n_tok = 0 every ratio divides by zero → NULL, least(NULL, 1000)
    # returns 1000, and an EMPTY document would score 400 — above genuinely
    # low-quality prose.
    milli = F.when(n_tok > 0, milli).otherwise(F.lit(0))
    return feat.withColumn("quality_milli", milli.cast("bigint")).withColumn(
        "quality", F.col("quality_milli") / 1000.0
    )


# BPE-ish token pattern: word-ish runs, number runs, or single
# non-space symbols — kept to character classes that mean the same thing
# in Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish regex — the whitespace-free analog of
    tokenizer cost estimation for LLM pipelines."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)).cast("bigint")


FP_MOD = (1 << 31) - 1  # Mersenne prime 2^31-1
FP_BASE = 31


def rolling_fingerprint_col(text_col: Column | str) -> Column:
    """Polynomial rolling-hash fingerprint of the ordered token-hash
    stream as a pure per-row expression:
    ``h = fold(tokens, (acc, t) -> (acc*31 + h32(t)) mod (2^31-1))``.

    Order-sensitive (unlike the set-based MinHash) — detects exact
    sequence duplicates cheaply. The token array is already in document
    order, so the fold is a narrow ``aggregate`` — ZERO shuffle (the
    earlier shape exploded tokens and re-collected them sorted in a
    groupBy: a corpus-wide shuffle to rebuild an order the array already
    had). All arithmetic stays in int64 (31 * 2^31 << 2^63, no overflow).
    NULL for token-less docs."""
    from .dedup import hash32

    toks = _tokens(text_col)
    fold = F.aggregate(
        F.transform(toks, lambda t: hash32(t, 0)),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * FP_BASE + h) % FP_MOD,
    )
    return F.when(F.size(toks) > 0, fold)


def rolling_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc frame view of ``rolling_fingerprint_col``:
    (``id_col``, fingerprint), token-less docs dropped. Round-9 review
    pass: the id column used to come back as the internal name ``_id``,
    contradicting this docstring — callers joining on their own id got
    an unresolved-column error."""
    return df.select(
        F.col(id_col),
        rolling_fingerprint_col(text_col).alias("fingerprint"),
    ).filter(F.col("fingerprint").isNotNull())


def repetition_ratio(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """X4 — Gopher-style repetition signal: the fraction of n-gram
    occurrences that are repeats of an earlier occurrence within the same
    document (0 = no repetition, →1 = the text loops). Computed entirely
    on the token ARRAY (narrow, no shuffle): total n-grams vs distinct
    n-grams per row. APPENDS ``n_grams``, ``n_distinct``, ``rep_milli``
    (integer milli-units for cross-engine determinism) to the input
    columns, so it composes with the other per-row quality signals in one
    projection — no self-join needed to reattach them."""
    toks = _tokens(text_col)
    grams = _ngrams(toks, n)
    out = df.withColumns(
        {
            "n_grams": F.size(grams).cast("bigint"),
            "n_distinct": F.size(F.array_distinct(grams)).cast("bigint"),
        }
    )
    return out.withColumn(
        "rep_milli",
        F.when(
            F.col("n_grams") > 0,
            ((F.col("n_grams") - F.col("n_distinct")) * 1000)
            .cast("bigint")
            / F.col("n_grams"),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )


def build_vocab(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Tokenizer-training prep: corpus vocabulary ``(token, n_occurrences,
    n_docs, vocab_id)`` with ids dense-ranked by (count desc, token asc).

    One shuffle (token groupBy with map-side partial counts — the token
    stream never crosses the wire raw, only per-partition partials). The
    id-assignment window is a global sort over the VOCABULARY, not the
    corpus — vocab size grows ~log-ish with corpus size (Heaps' law), so
    the single-partition ranking stays driver-safe even when the corpus is
    100 TB; the corpus-sized stages are all partial-aggregated."""
    # n_docs needs a per-(doc,token) distinct: carry the doc id through the
    # explode so the distinct is an equi-agg, not a second corpus pass.
    tok = df.select(
        F.col(id_col).alias("_rid"),
        F.explode(_tokens(text_col)).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct("_rid").alias("n_docs"),
    )
    kept = counts.filter(F.col("n_occurrences") >= min_count)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return kept.withColumn("vocab_id", F.row_number().over(w))


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 5,
) -> DataFrame:
    """Per-document top-``top_n`` TF-IDF terms (the lexical twin of the
    embedding pipeline — a quality/relevance signal and a cheap sparse
    "embedding" for blocking).

    ``idf = ln((N+1)/(df+1)) + 1`` (smoothed); score = tf · idf. Shapes:
    tf is one corpus-sized groupBy with partial aggregation; df is a
    vocab-sized aggregate of tf (NOT a second corpus pass); N is a scalar
    broadcast into the projection; ranking is a per-doc window — all
    partitionable, nothing global."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(text_col)).alias("token"),
    )
    tf = tok.groupBy("_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n")).first()["n"]
    scored = tf.join(dfreq, "token").select(
        F.col("_id").alias(id_col),
        "token",
        "tf",
        "df",
        (
            F.col("tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1)
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= top_n)
    )


# ---------------------------------------------------------------------------
# Gopher repetition / quality rules (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Table A1) — the standard document-level filter set
# for LLM pretraining corpora. Every signal is a pure per-row expression
# over the token / line / n-gram arrays: narrow, codegen'd, ZERO shuffle,
# so the panel scales linearly and composes with the other X4 signals in
# one projection. Fractions are integer milli-units (x*1000 div y) for
# bit-identical cross-engine replay.

# Gopher's "required stop words" list (≥2 must appear).
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _ngrams(toks: Column, n: int) -> Column:
    """Overlapping word n-grams of the token array (joined by ' ');
    empty when the doc has fewer than ``n`` tokens."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Expression-shape rule for the helpers below: Catalyst expressions are
# TREES, not DAGs — a subexpression referenced inside a higher-order
# lambda is re-evaluated PER ELEMENT. `element_at(array_sort(grams), i)`
# inside a transform over i therefore re-sorts the gram array G times
# (O(G^3 log G) per row on exactly the repetitive documents these rules
# exist to catch — observed as a wall-clock hang). So: neighbor tests are
# phrased as whole-array zips against shifted copies (slice+concat), and
# per-element lambdas only ever touch their own element — every heavy
# array is referenced a small CONSTANT number of times per row.


def _shift_prev(s: Column, g: Column) -> Column:
    """[null, s[0], ..., s[G-2]] — each element's left neighbor."""
    return F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(s, 1, F.greatest(g - 1, F.lit(0))),
    )


def _shift_next(s: Column, g: Column) -> Column:
    """[s[1], ..., s[G-1], null] — each element's right neighbor."""
    return F.concat(
        F.slice(s, 2, F.greatest(g - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )


def _dup_sorted_chars(s: Column) -> Column:
    """Characters covered by values occurring MORE THAN ONCE in the
    SORTED array ``s`` (every occurrence counted — Gopher's 'duplicate
    n-gram character fraction'). ``s`` must be a materialized column."""
    g = F.size(s)
    pairs = F.zip_with(
        s, _shift_prev(s, g), lambda x, p: F.struct(x.alias("x"), p.alias("p"))
    )
    trip = F.zip_with(
        pairs,
        _shift_next(s, g),
        lambda sp, nx: F.when(
            (sp["x"] == sp["p"]) | (sp["x"] == nx),
            F.length(sp["x"]).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.coalesce(
        F.aggregate(trip, F.lit(0).cast("bigint"), lambda a, x: a + x),
        F.lit(0).cast("bigint"),
    )


_GRAM_STATS_SCHEMA = (
    "top2_chars long, top3_chars long, top4_chars long, "
    "dup5_chars long, dup10_chars long"
)


def _gram_stats_udf():
    """The Gopher gram-char metrics as one scalar pandas_udf returning
    all five signals as a struct. Higher-order functions are
    CodegenFallback in Spark — every lambda element is interpreted — so
    a pure-Catalyst formulation costs ~5 ms/row; the vectorized Python
    loop (C-backed str.split + Counter) is ~50× cheaper and rides one
    Arrow batch channel. Pinned against a from-definition Python
    reference and DuckDB in tests/test_gopher.py. Ship-by-value: no
    module globals captured."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_GRAM_STATS_SCHEMA)
    def gram_stats(text: pd.Series) -> pd.DataFrame:
        from collections import Counter

        rows = []
        for t in text:
            toks = [w for w in (t or "").split(" ") if w]
            out = []
            for n in (2, 3, 4):
                cnt = Counter(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                if cnt:
                    g, c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                    out.append(c * len(g))
                else:
                    out.append(0)
            for n in (5, 10):
                cnt = Counter(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                out.append(sum(c * len(g) for g, c in cnt.items() if c >= 2))
            rows.append(out)
        return pd.DataFrame(
            rows,
            columns=[
                "top2_chars",
                "top3_chars",
                "top4_chars",
                "dup5_chars",
                "dup10_chars",
            ],
            dtype="int64",
        )

    return gram_stats


def _count_occurrences(text: Column, needle: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def gopher_panel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher rule panel to ``df`` (all per-row, zero shuffle):

    word rules — ``n_words``, ``mean_word_chars_milli`` (mean word length
    ×1000), ``alpha_word_milli`` (fraction of words containing a letter),
    ``symbol_word_milli`` (#/ellipsis symbols per word), ``stop_hits``
    (how many of the 8 Gopher stop words appear);

    line rules (lines = newline-split, trimmed, non-empty) —
    ``n_lines``, ``dup_line_milli`` (fraction of lines that are repeats),
    ``dup_line_char_milli`` (fraction of line characters inside lines
    occurring ≥2×), ``bullet_line_milli``, ``ellipsis_line_milli``;

    n-gram rules — ``top{2,3,4}_char_milli`` (fraction of characters
    covered by the most frequent n-gram), ``dup{5,10}_char_milli``
    (fraction covered by n-grams occurring ≥2×); character denominator =
    length of the single-space-joined token text;

    and ``gopher_pass`` — Gopher's Table-A1 thresholds (adapted min word
    count 20 for this short-doc corpus): word count bounds, mean word
    length in [3, 10], symbol ratio < 0.1, ≥80% alphabetic words, ≥2 stop
    words, dup-line < 30%, top-2-gram < 20%, dup-5-gram < 15%.

    Two projection stages: the first MATERIALIZES the heavy per-row
    arrays (token list, trimmed lines, sorted lines, gram stats) so each is
    computed exactly once per row; the second computes every signal from
    those attributes. Collapsing them into one projection would re-inline
    each array expression at every reference site (trees, not DAGs) —
    Catalyst's CollapseProject keeps the boundary because the aliases are
    expensive and multiply referenced.

    The five gram-char metrics come from one Arrow-batched pandas_udf
    (``_gram_stats_udf``).
    """
    text = F.col(text_col)
    toks = F.col("_gp_toks")
    lines = F.col("_gp_lines")
    cols = {
        "_gp_toks": _tokens(text_col),
        "_gp_lines": F.filter(
            F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
            lambda ln: ln != "",
        ),
        "_gp_sl": F.array_sort(
            F.filter(
                F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
                lambda ln: ln != "",
            )
        ),
        "_gp_gs": _gram_stats_udf()(text),
    }
    staged = df.withColumns(cols)
    n_words = F.size(toks).cast("bigint")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
    )
    # Joined-token text length: word chars + single separators.
    char_total = word_chars + F.greatest(n_words - 1, F.lit(0).cast("bigint"))

    n_lines = F.size(lines).cast("bigint")
    dup_line_chars = _dup_sorted_chars(F.col("_gp_sl"))
    line_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"), lambda a, ln: a + F.length(ln)
    )

    def int_milli(num: Column, den: Column) -> Column:
        # Integer floor-div milli for bit-identical cross-engine values.
        return F.when(
            den > 0, F.floor((num.cast("bigint") * 1000) / den).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))

    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("bigint")
    n_sym = (
        _count_occurrences(text, "#")
        + _count_occurrences(text, "...")
        + _count_occurrences(text, "…")
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPS]),
            lambda s: F.array_contains(toks, s),
        )
    ).cast("bigint")

    out = staged.withColumns(
        {
            "n_words": n_words,
            "mean_word_chars_milli": int_milli(word_chars, n_words),
            "alpha_word_milli": int_milli(n_alpha, n_words),
            "symbol_word_milli": int_milli(n_sym, n_words),
            "stop_hits": stop_hits,
            "n_lines": n_lines,
            "dup_line_milli": int_milli(
                n_lines - F.size(F.array_distinct(lines)).cast("bigint"), n_lines
            ),
            "dup_line_char_milli": int_milli(dup_line_chars, line_chars),
            "bullet_line_milli": int_milli(
                F.size(
                    F.filter(
                        lines,
                        lambda ln: ln.startswith("- ")
                        | ln.startswith("* ")
                        | ln.startswith("•"),
                    )
                ).cast("bigint"),
                n_lines,
            ),
            "ellipsis_line_milli": int_milli(
                F.size(
                    F.filter(
                        lines,
                        lambda ln: ln.endswith("...") | ln.endswith("…"),
                    )
                ).cast("bigint"),
                n_lines,
            ),
            "top2_char_milli": int_milli(F.col("_gp_gs.top2_chars"), char_total),
            "top3_char_milli": int_milli(F.col("_gp_gs.top3_chars"), char_total),
            "top4_char_milli": int_milli(F.col("_gp_gs.top4_chars"), char_total),
            "dup5_char_milli": int_milli(F.col("_gp_gs.dup5_chars"), char_total),
            "dup10_char_milli": int_milli(F.col("_gp_gs.dup10_chars"), char_total),
        }
    ).drop("_gp_toks", "_gp_lines", "_gp_sl", "_gp_gs")
    return out.withColumn(
        "gopher_pass",
        (F.col("n_words") >= 20)
        & (F.col("n_words") <= 100000)
        & F.col("mean_word_chars_milli").between(3000, 10000)
        & (F.col("symbol_word_milli") < 100)
        & (F.col("alpha_word_milli") > 800)
        & (F.col("stop_hits") >= 2)
        & (F.col("dup_line_milli") < 300)
        & (F.col("top2_char_milli") < 200)
        & (F.col("dup5_char_milli") < 150),
    )
