"""Gopher rule panel (operators/textstats.py gopher_panel — Rae et al.
2021 Table A1): hand-computed values, parity with a from-definition
Python reference and with DuckDB, and newline/line-rule behavior the
driver corpus (no newlines) can't exercise.
"""

import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.operators.textstats import gopher_panel

CORPUS = [
    # looping text: every signal from repetition rules fires
    (0, "the cat sat on the mat the cat sat on the mat"),
    # line rules: bullet, ellipsis, duplicate lines
    (1, "a b\n- bullet line\nsame line\nsame line\nends with ...\n"),
    (2, ""),  # empty doc: every denominator guarded
    (3, "one two three four five six seven eight nine ten"),
    # symbols + non-alpha words
    (4, "count ### 123 456 with have the of and be to that more text here ok"),
]


@pytest.fixture(scope="module")
def panel(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    return {r["doc_id"]: r.asDict() for r in gopher_panel(df).collect()}


def test_word_rules_hand_computed(panel):
    r = panel[0]
    # 12 words, 34 word chars -> 34000 // 12
    assert r["n_words"] == 12
    assert r["mean_word_chars_milli"] == 2833
    assert r["alpha_word_milli"] == 1000
    assert r["stop_hits"] == 1  # only 'the'
    r4 = panel[4]
    # '###' = 3 '#' occurrences over 16 words -> 187
    assert r4["symbol_word_milli"] == (3 * 1000) // 16
    # three non-alpha words (###, 123, 456) among 16
    assert r4["alpha_word_milli"] == (13 * 1000) // 16
    # the, of, and, be, to, that, have, with all present
    assert r4["stop_hits"] == 8


def test_line_rules_hand_computed(panel):
    r = panel[1]
    assert r["n_lines"] == 5
    assert r["dup_line_milli"] == 200  # 1 repeat of 5 lines
    # 'same line' (9 chars) x2 of 47 line chars
    assert r["dup_line_char_milli"] == (18 * 1000) // 47
    assert r["bullet_line_milli"] == 200
    assert r["ellipsis_line_milli"] == 200


def test_ngram_rules_hand_computed(panel):
    r = panel[0]
    # char_total = 34 + 11 = 45. Top 2-gram by (count desc, gram asc) is
    # 'cat sat' (2 x 7 chars); dup 5-grams: 2 grams x2 occurrences x18 chars.
    assert r["top2_char_milli"] == (2 * 7 * 1000) // 45
    assert r["top3_char_milli"] == (2 * 10 * 1000) // 45  # 'cat sat on'
    assert r["top4_char_milli"] == (2 * 14 * 1000) // 45  # 'cat sat on the'
    assert r["dup5_char_milli"] == (4 * 18 * 1000) // 45
    assert r["dup10_char_milli"] == 0
    # non-repetitive doc: top 2-gram count 1
    assert panel[3]["dup5_char_milli"] == 0


def test_empty_doc_all_zero(panel):
    r = panel[2]
    for k, v in r.items():
        if k in ("doc_id", "text", "gopher_pass"):
            continue
        assert v == 0, (k, v)
    assert r["gopher_pass"] is False


def test_gopher_pass_thresholds(spark):
    """A clean long-enough English doc passes; the same doc with a looping
    tail fails on the repetition rules only."""
    clean = (
        "the quick brown fox jumps over that lazy dog and then walks away "
        "with a bone to chew while birds of the field have watched it from "
        "afar and be content with their own quiet morning routine"
    )
    looping = "spam ham " * 40
    df = spark.createDataFrame(
        [(0, clean), (1, looping)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in gopher_panel(df).collect()}
    assert got[0]["gopher_pass"] is True
    assert got[1]["gopher_pass"] is False
    assert got[1]["top2_char_milli"] >= 200  # fails the repetition rule


def test_panel_is_narrow_no_shuffle(spark):
    """Every stage, the Arrow gram stage included, is per-row: the plan
    contains no Exchange at all."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    arrow_plan = gopher_panel(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in arrow_plan
    assert "ArrowEvalPython" in arrow_plan
    assert "BatchEvalPython" not in arrow_plan


def test_gram_metrics_match_python_reference_on_random_corpora(spark):
    """Property: the Arrow gram kernel equals a direct-from-definition
    Python computation (Counter over overlapping n-grams) on randomized
    repetitive corpora, the hand corpus, and a generated corpus of
    rotations + repeats (so runs of every shape appear)."""
    import random
    from collections import Counter

    rng = random.Random(414)
    words = ["a", "bb", "ccc", "dddd", "spam", "ham", "x"]
    rows = []
    for i in range(40):
        n = rng.randrange(0, 30)
        toks = [rng.choice(words) for _ in range(n)]
        if n >= 6 and rng.random() < 0.5:  # plant a verbatim loop
            toks = toks[:6] * rng.randrange(2, 5)
        rows.append((i, " ".join(toks)))
    gen_words = ["alpha", "beta", "gamma", "delta", "x", "yy"]
    rows += [
        (100 + i, " ".join(gen_words[(i + j) % len(gen_words)] for j in range(n)) + extra)
        for i, (n, extra) in enumerate(
            [(0, ""), (1, ""), (5, ""), (11, ""), (13, " alpha beta" * 4), (30, " x" * 25)]
        )
    ]
    rows += [(1000 + i, text) for i, text in CORPUS]

    def py_metrics(text):
        toks = [t for t in text.split(" ") if t]
        char_total = sum(len(t) for t in toks) + max(len(toks) - 1, 0)
        out = {}
        for n in (2, 3, 4):
            cnt = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            if cnt:
                g, c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                top = c * len(g)
            else:
                top = 0
            out[f"top{n}_char_milli"] = (
                top * 1000 // char_total if char_total else 0
            )
        for n in (5, 10):
            cnt = Counter(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
            out[f"dup{n}_char_milli"] = (
                dup * 1000 // char_total if char_total else 0
            )
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_panel(df).collect()}
    for i, text in rows:
        exp = py_metrics(text)
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, got[i][k], v, text)


def test_gopher_panel_duckdb_parity(spark, sf_dir):
    """The demoted q28 arm (oracle-tower amortization policy, round 6):
    the Gopher panel's DuckDB value parity, previously replayed inside
    q28's driver oracle every bench round, now runs HERE over the SAME
    unrolled CTE text (_GOPHER_CTES imported verbatim) on the real
    documents table — identical rigor, zero driver-bench seconds."""
    import sys as _sys

    import pyspark.sql.functions as F

    from pubmed_central_semantic_search_spark.operators.textstats import (
        gopher_panel,
    )
    from pubmed_central_semantic_search_spark.queries.extensions import (
        _GOPHER_CTES,
        _GOPHER_OUT_COLS,
    )

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from oracle_utils import compare_frames, duckdb_con

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = [
        "n_words", "mean_word_chars_milli", "alpha_word_milli",
        "symbol_word_milli", "stop_hits", "n_lines", "dup_line_milli",
        "dup_line_char_milli", "bullet_line_milli", "ellipsis_line_milli",
        "top2_char_milli", "top3_char_milli", "top4_char_milli",
        "dup5_char_milli", "dup10_char_milli",
    ]
    got = gopher_panel(docs).select(
        "doc_id",
        *cols,
        F.col("gopher_pass").cast("bigint").alias("gopher_pass"),
    )
    sql = f"""
    WITH {_GOPHER_CTES}
    SELECT g.doc_id,{_GOPHER_OUT_COLS}
    FROM gopher g
    """
    con = duckdb_con(sf_dir)
    compare_frames(got.toPandas(), con.execute(sql).df(), "gopher_demoted")
