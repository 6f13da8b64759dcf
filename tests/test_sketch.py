"""Count–min sketch: overestimate-only guarantee, exactness for isolated
keys, and a DuckDB
recomputation of the full sketch (content-addressed hashes ⇒ the two
engines build bit-identical tables)."""

import duckdb
import pyspark.sql.functions as F

from pubmed_central_semantic_search_spark.operators.sketch import (
    cms_build,
    cms_estimate,
)

DEPTH, WIDTH = 4, 64


def _tokens_df(spark, rows):
    return spark.createDataFrame([(t,) for t in rows], "token string")


def test_cms_never_underestimates_and_is_exact_when_sparse(spark):
    # planted frequencies far apart; few distinct keys vs width -> exact
    data = ["hot"] * 50 + ["warm"] * 7 + ["cold"] * 1 + ["x", "y", "z"]
    sketch = cms_build(_tokens_df(spark, data), "token", DEPTH, WIDTH)
    assert sketch.count() <= DEPTH * WIDTH
    est = cms_estimate(sketch, ["hot", "warm", "cold", "absent"], DEPTH, WIDTH)
    true = {"hot": 50, "warm": 7, "cold": 1, "absent": 0}
    for k, t in true.items():
        assert est[k] >= t  # the one-sided CMS guarantee
        assert est[k] <= t + 2 * len(data) // WIDTH + 3  # loose eps bound
    # with 6 distinct keys in 64 buckets x 4 rows, min over rows is exact
    assert est["hot"] == 50 and est["warm"] == 7


def test_cms_matches_duckdb_recomputation(spark, sf_dir):
    """Bit-identical cross-engine sketch over the real documents table
    (token stream of the corpus)."""
    docs_path = f"{sf_dir}/documents.parquet"
    toks = (
        spark.read.parquet(docs_path)
        .select(F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"))
    )
    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(toks, "token", DEPTH, WIDTH).collect()
    }
    rows_sql = ", ".join(f"({i})" for i in range(DEPTH))
    sql = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token
      FROM read_parquet('{docs_path}')
    ), rows(r) AS (VALUES {rows_sql})
    SELECT r AS row,
           CAST(CAST(('0x' || substr(md5(token || '#cms' || CAST(r AS VARCHAR)), 1, 8))
                     AS BIGINT) % {WIDTH} AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks, rows
    WHERE token <> ''
    GROUP BY 1, 2
    """
    want = {(r[0], r[1]): r[2] for r in duckdb.sql(sql).fetchall()}
    assert got == want and len(got) > 0


def test_cms_plan_is_one_partial_aggregate(spark, sf_dir):
    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    sketch = cms_build(toks, "token", DEPTH, WIDTH)
    plan = sketch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan  # one shuffle
    assert "partial_count" in plan, plan  # map-side combine before it
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_estimate_bucket_matches_catalyst_cms_bucket(spark):
    """The driver-side bucket function (md5_prefix_long_py) and the
    Catalyst cms_bucket expression must agree key-for-key across rows —
    any drift in the salt/prefix convention would silently zero every
    estimate."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.curation import (
        md5_prefix_long_py,
    )
    from pubmed_central_semantic_search_spark.operators.sketch import cms_bucket

    keys = ["alpha", "beta", "γ-unicode", "", "12345", "a b c"]
    width, depth = 64, 4
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    cols = [cms_bucket("k", i, width).alias(f"b{i}") for i in range(depth)]
    got = {r["k"]: [r[f"b{i}"] for i in range(depth)]
           for r in df.select("k", *cols).collect()}
    for k in keys:
        want = [md5_prefix_long_py(k, f"#cms{i}") % width for i in range(depth)]
        assert got[k] == want, k


# ---------------------------------------------------------------------------
# Bloom filter


def _bloom_dict(bloom):
    return {r["word_idx"]: r["word"] for r in bloom.collect()}


def test_bloom_never_false_negative(spark):
    """Every inserted key passes might_contain — the guarantee
    bloom_anti_join's 'definitely new' split rests on. Tight sizing
    (64 words for 300 keys) so plenty of collisions occur."""
    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_build,
        bloom_literal,
        bloom_might_contain,
    )

    keys = [f"key-{i}" for i in range(300)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    words = bloom_literal(bloom_build(df, "k", n_words=64, k=4), 64)
    n_hit = df.filter(bloom_might_contain("k", words, k=4)).count()
    assert n_hit == len(keys)


def test_bloom_anti_join_equals_exact_anti_join(spark):
    """bloom_anti_join ≡ plain left_anti, including under heavy false
    positives (tiny bloom) and overlapping/disjoint key mixes."""
    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join,
    )

    hist = spark.createDataFrame(
        [(f"h-{i}", i) for i in range(200)], "k string, v int"
    )
    new = spark.createDataFrame(
        [(f"h-{i}", -1) for i in range(150, 250)]
        + [(f"n-{i}", -2) for i in range(100)],
        "k string, v int",
    )
    for n_words in (2, 64):  # 64 bits forces false positives; 2048 is roomy
        got = sorted(
            (r["k"], r["v"])
            for r in bloom_anti_join(new, hist, "k", n_words=n_words).collect()
        )
        want = sorted(
            (r["k"], r["v"])
            for r in new.join(hist.select("k"), "k", "left_anti").collect()
        )
        assert got == want, n_words
    assert len(want) == 150  # 50 overlapping h-keys removed


def test_bloom_matches_duckdb_recomputation(spark, sf_dir):
    """Bit-identical cross-engine word array over the real events table —
    the q45 'bloom' arm's contract."""
    from pubmed_central_semantic_search_spark.operators.sketch import bloom_build

    events_path = f"{sf_dir}/events.parquet"
    n_words, k = 16, 4
    e = spark.read.parquet(events_path)
    got = _bloom_dict(bloom_build(e, "user_id", n_words, k))
    hashes = ", ".join(f"({i})" for i in range(k))
    sql = f"""
    WITH pos AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#bf'
                                   || CAST(r AS VARCHAR)), 1, 8))
                  AS BIGINT) % {n_words * 32} AS pos
      FROM read_parquet('{events_path}'), (VALUES {hashes}) h(r)
    )
    SELECT CAST(pos // 32 AS INT) AS word_idx,
           CAST(bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS BIGINT) AS word
    FROM pos GROUP BY 1
    """
    want = {r[0]: r[1] for r in duckdb.sql(sql).fetchall()}
    assert got == want and len(got) > 0


def test_bloom_plan_no_python_and_one_shuffle(spark):
    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_build,
        bloom_might_contain,
    )

    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "k string")
    plan = (
        bloom_build(df, "k", 32, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # membership is a pure projection: zero exchanges
    probe = df.filter(bloom_might_contain("k", [0] * 32, 4))
    pplan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in pplan, pplan


def test_bloom_null_keys(spark):
    """Null keys: skipped on build (no crash in bloom_literal), kept as
    definitely-new by bloom_anti_join — matching left_anti, where null
    never equals anything."""
    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join,
        bloom_build,
        bloom_literal,
    )

    hist = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    words = bloom_literal(bloom_build(hist, "k", 16, 4), 16)  # no crash
    assert any(w != 0 for w in words)
    new = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", 3)], "k string, v int"
    )
    got = sorted(
        ((r["k"], r["v"]) for r in bloom_anti_join(new, hist, "k", 16).collect()),
        key=lambda t: t[1],
    )
    want = sorted(
        (
            (r["k"], r["v"])
            for r in new.join(hist.select("k"), "k", "left_anti").collect()
        ),
        key=lambda t: t[1],
    )
    assert got == want == [(None, 2), ("c", 3)]


def test_cms_estimate_rejects_mismatched_geometry(spark):
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "token string")
    sketch = cms_build(df, "token", depth=4, width=1024)
    with _pytest.raises(ValueError, match="geometry"):
        cms_estimate(sketch, ["k0"], depth=4, width=64)


def test_cms_estimate_rejects_larger_claimed_geometry(spark):
    """The ADVICE r4 finding: probing with a LARGER width than the build
    used to pass the one-sided cell guard and silently return 0 (an
    underestimate — the one failure the CMS forbids). The stamped
    metadata now rejects both directions, and argless estimation reads
    the true geometry from the sketch itself."""
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("hot",)] * 7 + [("cold",)], "token string")
    sketch = cms_build(df, "token", depth=4, width=64)
    with _pytest.raises(ValueError, match="geometry"):
        cms_estimate(sketch, ["hot"], depth=4, width=256)  # q45-shaped misuse
    with _pytest.raises(ValueError, match="geometry"):
        cms_estimate(sketch, ["hot"], depth=8, width=64)
    # metadata-driven path: no args needed, and the answer is exact here
    est = cms_estimate(sketch, ["hot", "cold", "absent"])
    assert est["hot"] >= 7 and est["cold"] >= 1 and est["absent"] >= 0


def test_cms_merge_of_mixed_geometries_is_rejected_at_estimate(spark):
    """Cells of sketches built with different geometries are not
    summable: a frame holding two stamped geometries is refused."""
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("a",), ("b",)], "token string")
    merged = cms_build(df, "token", depth=4, width=64).unionByName(
        cms_build(df, "token", depth=4, width=128)
    )
    with _pytest.raises(ValueError, match="distinct"):
        cms_estimate(merged, ["a"])


def test_cms_estimate_legacy_sketch_requires_explicit_geometry(spark):
    """Pre-metadata parquet sketches (3-column) still work with explicit
    args and still get the out-of-range cell guard; argless raises."""
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    legacy = cms_build(
        spark.createDataFrame([("hot",)] * 3, "token string"), "token", 4, 64
    ).drop("depth", "width")
    with _pytest.raises(ValueError, match="metadata"):
        cms_estimate(legacy, ["hot"])
    assert cms_estimate(legacy, ["hot"], depth=4, width=64)["hot"] >= 3


def test_bloom_anti_join_prebuilt_words_amortized_path(spark):
    """The incremental-ingest steady state: build the filter ONCE, probe
    many batches with the prebuilt words — same answer as the per-call
    build and the exact join; mismatched geometry is rejected."""
    import pytest as _pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join,
        bloom_build,
        bloom_literal,
    )

    hist = spark.createDataFrame([(f"h{i}",) for i in range(100)], "k string")
    new = spark.createDataFrame(
        [(f"h{i}",) for i in range(90, 110)], "k string"
    )
    words = bloom_literal(bloom_build(hist, "k", 64, 4), 64)
    got = sorted(
        r["k"] for r in bloom_anti_join(new, hist, "k", 64, words=words).collect()
    )
    want = sorted(
        r["k"] for r in new.join(hist, "k", "left_anti").collect()
    )
    assert got == want and len(got) == 10
    with _pytest.raises(ValueError, match="geometry"):
        bloom_anti_join(new, hist, "k", n_words=32, words=words)
    # densifying a stamped filter at another width is refused by name
    with _pytest.raises(ValueError, match="n_words"):
        bloom_literal(bloom_build(hist, "k", 16, 4), 32)


# ---------------------------------------------------------------------------
# Integer log-histogram quantile sketch


def _py_ihist_bucket(n):
    if n < 16:
        return n
    e = n.bit_length() - 1
    return 16 + (e - 4) * 8 + ((n >> (e - 3)) - 8)


def _py_ihist_rep(b):
    if b < 16:
        return b
    return (8 + (b - 16) % 8) << ((b - 16) // 8 + 1)


def _py_ihist_quantile(values, q):
    from collections import Counter

    hist = sorted(Counter(_py_ihist_bucket(v) for v in values).items())
    rank = int(q * (len(values) - 1)) + 1
    cum = 0
    for b, c in hist:
        cum += c
        if cum >= rank:
            return _py_ihist_rep(b)
    raise AssertionError


def test_ihist_bucket_and_rep_roundtrip(spark):
    """Bucket/representative algebra: rep(bucket(n)) <= n < rep(bucket+1),
    exact below 16, relative error <= 12.5% above — checked on a value
    sweep covering every exponent regime."""
    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_bucket,
        ihist_rep,
    )

    vals = list(range(0, 40)) + [
        (1 << e) + d for e in range(5, 62, 7) for d in (0, 1, (1 << e) - 1)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    rows = df.select(
        "n", ihist_bucket("n").alias("b"),
        ihist_rep(ihist_bucket("n")).alias("rep"),
    ).collect()
    for r in rows:
        assert r["b"] == _py_ihist_bucket(r["n"]), r["n"]
        assert r["rep"] == _py_ihist_rep(r["b"]), r["n"]
        assert r["rep"] <= r["n"]
        if r["n"] >= 16:
            assert (r["n"] - r["rep"]) / r["n"] <= 0.125 + 1e-9, r["n"]
        else:
            assert r["rep"] == r["n"]


def test_ihist_negative_input_raises(spark):
    import pytest as _pt

    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_build,
    )

    df = spark.createDataFrame([(5,), (-1,)], "n long")
    with _pt.raises(Exception, match="negative"):
        ihist_build(df, "n").collect()


def test_ihist_quantiles_match_python(spark):
    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_build,
        ihist_quantiles,
    )

    import random

    rng = random.Random(7)
    a = [rng.randrange(0, 100000) for _ in range(400)]
    b = [rng.randrange(0, 3000) for _ in range(300)]
    df_a = spark.createDataFrame([(v,) for v in a], "n long")
    df_b = spark.createDataFrame([(v,) for v in b], "n long")
    qs = [0.5, 0.9, 0.99]
    got = {
        r["q"]: r["value"]
        for r in ihist_quantiles(
            ihist_build(df_a.unionByName(df_b), "n"), qs
        ).collect()
    }
    both = a + b
    for q in qs:
        want = _py_ihist_quantile(both, q)
        assert got[q] == want, q
        # relative-error contract vs the TRUE lower quantile
        true = sorted(both)[int(q * (len(both) - 1))]
        if true >= 16:
            assert abs(got[q] - true) / true <= 0.125 + 1e-9, (q, got[q], true)


def test_ihist_grouped_quantiles_and_plan(spark, sf_dir):
    """Grouped histogram over the real documents table: one partial-
    aggregated shuffle to build, constant cells per group; quantile walk
    never collects."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_build,
        ihist_quantiles,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n_tok"),
    )
    sk = ihist_build(d, "n_tok", group_cols=["source"])
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    per_group = sk.groupBy("source").count().collect()
    assert all(r["count"] <= 488 for r in per_group)
    out = ihist_quantiles(sk, [0.5, 0.9], group_cols=["source"]).collect()
    # answers within the relative-error contract of the exact quantiles
    exact = {
        (r["source"], q): r[f"p{int(q * 100)}"]
        for q in (0.5, 0.9)
        for r in d.groupBy("source").agg(
            *[
                F.expr(f"percentile(n_tok, {q})").alias(f"p{int(q * 100)}")
                for q in (0.5, 0.9)
            ]
        ).collect()
    }
    for r in out:
        true = exact[(r["source"], r["q"])]
        assert r["value"] <= true * 1.01 + 1
        assert r["value"] >= true * 0.8 - 1


def test_ihist_bucket_algebra_properties():
    """Pure-algebra property sweep (no Spark): bucket is monotone in n,
    rep is a fixed point of its own bucket, the lower-bound/relative-error
    contract holds across the whole non-negative int64 domain."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=(1 << 62) - 1))
    def check(n):
        b = _py_ihist_bucket(n)
        r = _py_ihist_rep(b)
        assert r <= n
        if n < 16:
            assert r == n
        else:
            assert (n - r) / n <= 0.125
        assert _py_ihist_bucket(r) == b  # rep lands in its own bucket
        assert _py_ihist_bucket(n + 1) >= b  # monotone

    check()


def test_ihist_null_and_bad_q_edges(spark):
    import pytest as _pt

    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_bucket,
        ihist_build,
        ihist_quantiles,
    )

    df = spark.createDataFrame([(5,), (None,)], "n long")
    rows = df.select(ihist_bucket("n").alias("b")).collect()
    assert sorted([r["b"] for r in rows], key=lambda x: (x is None, x)) == [5, None]
    with _pt.raises(ValueError, match=r"q must be in \[0, 1\]"):
        ihist_quantiles(ihist_build(df, "n"), [0.5, 1.5])


def test_ihist_scale_fixed_point_for_doubles(spark):
    """Real-valued metrics go through floor(scale*x): quantiles of a
    cosine-score-like column land within 1/scale + 12.5% of truth."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_build,
        ihist_quantiles,
        ihist_scale,
    )

    vals = [i / 997.0 for i in range(997)]  # uniform-ish [0, 1)
    df = spark.createDataFrame([(v,) for v in vals], "s double").select(
        ihist_scale("s", 1000).alias("m")
    )
    got = {
        r["q"]: r["value"] / 1000.0
        for r in ihist_quantiles(ihist_build(df, "m"), [0.5, 0.9]).collect()
    }
    for q in (0.5, 0.9):
        true = sorted(vals)[int(q * (len(vals) - 1))]
        assert abs(got[q] - true) <= true * 0.125 + 1e-3 + 1e-9, (q, got[q], true)


def test_ihist_quantiles_duckdb_parity_demoted(spark, sf_dir):
    """The DEMOTED q46 'sketch' arm (oracle-tower amortization policy,
    round 7; driver-green r5+r6): the integer log-histogram quantile
    sketch's DuckDB value parity, previously replayed inside q46's driver
    oracle every bench round, now runs HERE over the SAME CTE text
    (_Q46_IHIST_PARITY_SQL imported verbatim) on the real documents table
    — identical rigor, zero driver-bench seconds. Bench number:
    x_ihist_quantiles."""
    import sys as _sys

    from pubmed_central_semantic_search_spark.queries.coverage import (
        _Q46_IHIST_PARITY_SQL,
        ihist_token_percentiles,
    )

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from oracle_utils import compare_frames, duckdb_con

    got = ihist_token_percentiles(spark, sf_dir).toPandas()
    want = duckdb_con(sf_dir).execute(_Q46_IHIST_PARITY_SQL).df()
    compare_frames(got, want, "q46-ihist-demoted")


def test_cms_null_keys_skipped_like_bloom(spark):
    """Round-8 review find: cms_build emitted NULL-bucket cells for null
    keys (the bloom twin documented and skipped them) and cms_estimate
    then died with an opaque TypeError (None >= int). Nulls now skip at
    build; a legacy sketch carrying null cells raises BY NAME."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "k string")
    sk = cms_build(df, "k", depth=2, width=16)
    rows = sk.collect()
    assert all(r["bucket"] is not None for r in rows)
    est = cms_estimate(sk, ["a", "b", "zzz"])
    assert est["a"] >= 2 and est["b"] >= 1
    # a legacy sketch with null cells raises by name, not TypeError
    legacy = spark.createDataFrame(
        [(0, None, 1, 2, 16), (0, 3, 1, 2, 16)],
        "row int, bucket int, cnt bigint, depth int, width int",
    )
    with pytest.raises(ValueError, match="NULL row/bucket"):
        cms_estimate(legacy, ["a"])


# --- round-9: deterministic HLL ---------------------------------------------


def test_hll_registers_match_python_reference(spark):
    """The (register, rho) cells are a pure function of the md5 prefix —
    recompute them in plain Python and compare cell for cell."""
    import hashlib

    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
    )

    keys = [f"user-{i}" for i in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["register"]: r["rho"] for r in hll_build(df, "k", m=64).collect()
    }
    want: dict[int, int] = {}
    for k in keys:
        h = int(hashlib.md5((k + "#hll").encode()).hexdigest()[:8], 16)
        reg, val = h % 64, h // 64
        rho = 27 - (val.bit_length())
        want[reg] = max(want.get(reg, 0), rho)
    assert got == want


def test_hll_merge_equals_rebuild_and_geometry_guard(spark):
    import pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
        hll_merge,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "k string")
    b = spark.createDataFrame(
        [(f"a{i}",) for i in range(200, 400)] + [(f"b{i}",) for i in range(100)],
        "k string",
    )
    merged = {
        r["register"]: r["rho"]
        for r in hll_merge(hll_build(a, "k"), hll_build(b, "k")).collect()
    }
    rebuilt = {
        r["register"]: r["rho"] for r in hll_build(a.unionByName(b), "k").collect()
    }
    assert merged == rebuilt
    with pytest.raises(Exception, match="disagree on m"):
        hll_merge(hll_build(a, "k", m=64), hll_build(b, "k", m=128)).collect()
    with pytest.raises(ValueError, match="power of two"):
        hll_build(a, "k", m=100)


def test_hll_estimate_accuracy_contract_and_null_skip(spark):
    """Standard error is 1.04/sqrt(m); pin a 3-sigma contract at m=256
    across three decades of cardinality, and the null-key skip rule."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    for n in (100, 2000, 20000):
        df = spark.range(n).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        est = hll_estimate(hll_build(df, "k", m=256)).collect()[0][0]
        assert abs(est - n) / n < 3 * 1.04 / (256 ** 0.5), (n, est)
    withnull = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "k string"
    )
    nonull = spark.createDataFrame([("a",), ("b",)], "k string")
    got = {
        r["register"]: r["rho"] for r in hll_build(withnull, "k").collect()
    }
    want = {r["register"]: r["rho"] for r in hll_build(nonull, "k").collect()}
    assert got == want  # nulls are the absence of a key


def test_hll_grouped_matches_per_group_exact_shape(spark):
    """Grouped build: one sketch per group, registers independent."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    df = spark.range(4000).select(
        (F.col("id") % 4).alias("g"),
        F.concat(F.lit("k"), (F.col("id") / 4).cast("long")).alias("k"),
    )
    est = {
        r["g"]: r["n_distinct_est"]
        for r in hll_estimate(hll_build(df, "k", m=256, group_cols=["g"]), ["g"]).collect()
    }
    assert set(est) == {0, 1, 2, 3}
    for g, e in est.items():
        assert abs(e - 1000) / 1000 < 0.25, (g, e)


def test_bloom_anti_join_table_equals_exact_and_validates_geometry(spark):
    """The table-probed bloom anti-join (round-10 — the beyond-10^7-keys
    seam the literal path's docstring promised): identical results to
    the exact left_anti under heavy false positives, null keys pass as
    definitely-new, duplicate batch rows survive, and mismatched
    geometry raises BY NAME instead of producing false negatives."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.sketch import (
        bloom_anti_join,
        bloom_anti_join_table,
        bloom_build,
    )

    hist = spark.createDataFrame(
        [(f"h-{i}", i) for i in range(200)], "k string, v int"
    )
    new = spark.createDataFrame(
        [(f"h-{i}", -1) for i in range(150, 250)]
        + [(f"n-{i}", -2) for i in range(100)]
        + [("n-7", -3), (None, -4)],  # duplicate key + null key
        "k string, v int",
    )
    def canon(rows):
        # None keys sort first (tuples with None don't compare to str)
        return sorted(
            ((r["k"], r["v"]) for r in rows),
            key=lambda t: (t[0] is not None, t[0] or "", t[1]),
        )

    want = canon(new.join(hist.select("k"), "k", "left_anti").collect())
    for n_words in (2, 64):
        table = bloom_build(hist, "k", n_words=n_words, k=4)
        got = canon(
            bloom_anti_join_table(
                new, table, hist, "k", n_words=n_words, k=4
            ).collect()
        )
        assert got == want, n_words
        # and the two probe forms agree with each other
        lit = canon(
            bloom_anti_join(new, hist, "k", n_words=n_words, k=4).collect()
        )
        assert got == lit
    assert (None, -4) in want  # the null key really flowed through

    # geometry mismatch: raises by name, never a silent wrong filter
    table64 = bloom_build(hist, "k", n_words=64, k=4)
    with pytest.raises(Exception, match="geometry"):
        bloom_anti_join_table(new, table64, hist, "k", n_words=128, k=4).collect()
    with pytest.raises(Exception, match="geometry"):
        bloom_anti_join_table(new, table64, hist, "k", n_words=64, k=2).collect()
    # legacy table without metadata columns: structural bound check only
    legacy = table64.select("word_idx", "word")
    got = canon(
        bloom_anti_join_table(
            new, legacy, hist, "k", n_words=64, k=4
        ).collect()
    )
    assert got == want
    with pytest.raises(Exception, match="word_idx"):
        bloom_anti_join_table(new, legacy, hist, "k", n_words=2, k=4).collect()

