"""Property-based tests (SURVEY §5.4): mean-pool identity/linearity, top-k
monotonicity in k, filter-then-rank ≡ rank-then-filter for the Q2 window,
cosine self-similarity. Spark session is session-scoped; examples are
capped to keep job counts sane."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.operators.pooling import mean_pool
from pubmed_central_semantic_search_spark.operators.topk import (
    grouped_top_k,
    top_k,
)

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(-100, 100, allow_nan=False, allow_infinity=False)
vec = st.lists(finite, min_size=4, max_size=4)


@PROP
@given(v=vec)
def test_mean_pool_singleton_identity(spark, v):
    df = spark.createDataFrame([("g", v)], "g string, embedding array<double>")
    [row] = mean_pool(df, ["g"], dim=4).collect()
    assert row["embedding"] == pytest.approx(v, rel=1e-9, abs=1e-12)


@PROP
@given(vs=st.lists(vec, min_size=2, max_size=5))
def test_mean_pool_matches_python_mean(spark, vs):
    df = spark.createDataFrame(
        [("g", v) for v in vs], "g string, embedding array<double>"
    )
    [row] = mean_pool(df, ["g"], dim=4).collect()
    expected = [sum(col) / len(vs) for col in zip(*vs)]
    assert row["embedding"] == pytest.approx(expected, rel=1e-9, abs=1e-9)
    # dim only adds the length guard: without it the mean is the same
    [flat] = mean_pool(df, ["g"], dim=None).collect()
    assert flat["embedding"] == pytest.approx(row["embedding"], rel=1e-12)


@PROP
@given(scores=st.lists(finite, min_size=1, max_size=12), k=st.integers(1, 6))
def test_topk_monotone_prefix(spark, scores, k):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "id int, score double"
    )
    small = [tuple(r) for r in top_k(df, "score", k, tiebreak=["id"]).collect()]
    big = [tuple(r) for r in top_k(df, "score", k + 3, tiebreak=["id"]).collect()]
    assert big[: len(small)] == small  # top-k is a prefix of top-(k+m)


@PROP
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), finite), min_size=1, max_size=15
    ),
    k=st.integers(1, 4),
)
def test_grouped_topk_commutes_with_group_filter(spark, rows, k):
    """Q2's correctness core: restricting to one group BEFORE the ranking
    window gives the same rows as ranking all groups then filtering —
    i.e. the one-pass window legitimately replaces the reference's N+1
    per-document queries."""
    df = spark.createDataFrame(
        [(g, i, s) for i, (g, s) in enumerate(rows)],
        "g int, id int, score double",
    )
    ranked_then_filtered = grouped_top_k(
        df, ["g"], "score", k, tiebreak=["id"]
    ).filter(F.col("g") == 0)
    filtered_then_ranked = grouped_top_k(
        df.filter(F.col("g") == 0), ["g"], "score", k, tiebreak=["id"]
    )
    assert sorted(map(tuple, ranked_then_filtered.collect())) == sorted(
        map(tuple, filtered_then_ranked.collect())
    )


def test_cosine_self_similarity(spark):
    from pubmed_central_semantic_search_spark.functions.vector import (
        cosine_similarity,
    )

    vs = [[1.0, 2.0, -3.0], [0.001, 0.0, 0.0], [5.0, 5.0, 5.0]]
    df = spark.createDataFrame([(v,) for v in vs], "v array<double>")
    for r in df.select(cosine_similarity("v", F.col("v")).alias("c")).collect():
        assert math.isclose(r["c"], 1.0, rel_tol=1e-9)


def test_scrub_pii_is_idempotent(spark):
    """Scrubbing already-scrubbed text is a no-op: replacement tokens must
    not re-match any pattern (the guarantee that makes the pass safe to
    re-run over partially-processed corpora)."""
    from pubmed_central_semantic_search_spark.operators.curation import scrub_pii

    rows = [
        (1, "a@b.io and 123-45-6789 and 10.0.0.1 and +1 555-123 4567"),
        (2, "no pii"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    once = scrub_pii(df, "text").select("doc_id", F.col("clean_text").alias("text"))
    twice = scrub_pii(once, "text")
    for r in twice.collect():
        assert r["clean_text"] == r["text"]
        assert all(r[f"n_{k}"] == 0 for k in ("email", "ssn", "ipv4", "phone"))


def test_stratified_sample_is_nested_in_fraction(spark):
    """Content-addressed sampling: a 10% sample is a SUBSET of the 30%
    sample of the same data (thresholds nest). Plain df.sample() has no
    such property — this is what makes reruns reproducible."""
    from pubmed_central_semantic_search_spark.operators.curation import (
        stratified_sample,
    )

    df = spark.range(2000).selectExpr("id AS doc_id", "'en' AS lang")
    small = {
        r["doc_id"]
        for r in stratified_sample(df, {"en": 0.1}, "lang", "doc_id").collect()
    }
    big = {
        r["doc_id"]
        for r in stratified_sample(df, {"en": 0.3}, "lang", "doc_id").collect()
    }
    assert small and small <= big
    assert 0.05 < len(small) / 2000 < 0.15 and 0.25 < len(big) / 2000 < 0.35


def test_connected_components_is_idempotent(spark):
    """Re-clustering the (id, component) star edges returns the same
    labeling — the fixpoint really is a fixpoint."""
    from pubmed_central_semantic_search_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(10, 12), (12, 14)],
        "id_a long, id_b long",
    )
    first = connected_components(pairs)
    again = connected_components(
        first.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("id_a"), F.col("component").alias("id_b")
        )
    )
    assert sorted(map(tuple, first.collect())) == sorted(map(tuple, again.collect()))


@PROP
@given(
    texts=st.lists(
        st.lists(st.sampled_from("a b c d".split()), min_size=0, max_size=14).map(
            " ".join
        ),
        min_size=2,
        max_size=5,
    ),
    window=st.integers(3, 5),
)
def test_repeated_span_invariants(spark, texts, window):
    """repeated_ngram_spans structural laws on arbitrary small corpora:
    spans lie inside their doc's token bounds, are at least window long,
    cover exactly a consecutive run of hot windows (n_windows ==
    span_end - span_start - window + 1), EVERY window of a span occurs
    in >= 2 documents (the full ExactSubstr soundness contract), and
    per-doc islands' window-position sets are disjoint (spans may
    overlap in token space by at most window-2 tokens)."""
    from pubmed_central_semantic_search_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_ngram_spans(df, "doc_id", "text", window=window).collect()
    toks = {i: [t for t in txt.split(" ") if t] for i, txt in rows}
    per_doc: dict[int, list] = {}
    for r in spans:
        d, s, e = r["doc_id"], r["span_start"], r["span_end"]
        assert 0 <= s < e <= len(toks[d])
        assert e - s >= window
        assert r["n_windows"] == e - s - window + 1
        per_doc.setdefault(d, []).append((s, e))
        # soundness: EVERY window of the span occurs in >= 2 docs
        for p in range(s, e - window + 1):
            win = " ".join(toks[d][p : p + window])
            holders = {
                i
                for i, ts in toks.items()
                for j in range(len(ts) - window + 1)
                if " ".join(ts[j : j + window]) == win
            }
            assert len(holders) >= 2, (d, p, win)
    for d, ss in per_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            # islands partition hot positions: next island's first window
            # starts >= 2 past this island's last window position
            assert s2 >= (e1 - window) + 2


@PROP
@given(
    seed=st.integers(0, 10_000),
    thr=st.sampled_from([0.8, 0.95, 0.999]),
)
def test_semantic_dedup_invariants(spark, seed, thr):
    """semantic_dedup structural laws on random small corpora: every row
    keeps exactly one cluster; exactly one survivor per component under
    BOTH keep rules (and the same component partition); a component never
    spans clusters."""
    import random

    from pubmed_central_semantic_search_spark.operators.dedup import (
        semantic_dedup,
    )

    rng = random.Random(seed)
    base = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(4)]
    rows = []
    for i in range(12):
        src = base[rng.randrange(4)]
        rows.append(
            (i, [x + rng.uniform(-0.05, 0.05) for x in src])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(c, v) for c, v in enumerate(base)]
    for keep in ("min_id", "far_from_centroid"):
        out = semantic_dedup(df, cents, min_cosine=thr, keep=keep).collect()
        assert len(out) == 12
        comp_cluster: dict = {}
        comp_survivors: dict = {}
        for r in out:
            comp_cluster.setdefault(r["component"], set()).add(r["cluster_id"])
            comp_survivors.setdefault(r["component"], 0)
            comp_survivors[r["component"]] += int(r["is_survivor"])
        assert all(len(cs) == 1 for cs in comp_cluster.values())
        assert all(n == 1 for n in comp_survivors.values())


@PROP
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    counts=st.lists(st.integers(1, 9), min_size=8, max_size=8),
    n_merges=st.integers(1, 5),
)
def test_bpe_matches_python_reference_on_random_vocabs(
    spark, words, counts, n_merges
):
    """Merge-for-merge agreement with the plain-Python Sennrich reference
    on arbitrary small vocabularies (same count-then-lexicographic
    tie-break)."""
    from pubmed_central_semantic_search_spark.operators.bpe import bpe_train
    from tests.test_bpe import _py_bpe

    vocab = list(zip(words, counts))
    want, _ = _py_bpe(vocab, n_merges)
    df = spark.createDataFrame(vocab, "token string, count bigint")
    assert bpe_train(df, n_merges) == want


@PROP
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=10),
        min_size=1,
        max_size=5,
    ),
    phrase=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3),
)
def test_phrase_match_equals_naive_scan(spark, docs, phrase):
    """Positional-index join ≡ the obvious O(n·m) scan on random corpora
    (includes repeated-term phrases and phrase == whole doc)."""
    from pubmed_central_semantic_search_spark.operators.retrieval import (
        phrase_match_counts,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_counts(df, phrase).collect()
    }
    want = {}
    m = len(phrase)
    for i, toks in enumerate(docs):
        n = sum(
            1
            for p in range(len(toks) - m + 1)
            if toks[p : p + m] == list(phrase)
        )
        if n:
            want[i] = n
    assert got == want


@PROP
@given(
    weights=st.lists(
        st.floats(0.1, 50, allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=10,
    ),
    k=st.integers(1, 5),
)
def test_weighted_sample_matches_python_aes(spark, weights, k):
    """The selected set is exactly the Python-recomputed k-smallest by
    the exponential A-ES key −ln(u)/w (id-asc tie-break) — and identical
    to what the pow form u^(1/w) would select (ordering equivalence)."""
    import hashlib
    import math

    from pubmed_central_semantic_search_spark.operators.curation import (
        weighted_sample,
    )

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [r["doc_id"] for r in weighted_sample(df, k, "w").collect()]

    def ekey(i, w):
        v = int(hashlib.md5(f"{i}#wrs".encode()).hexdigest()[:8], 16)
        return -math.log((v + 0.5) / 2.0**32) / w

    want = [i for i, _ in sorted(rows, key=lambda t: (ekey(*t), t[0]))[:k]]
    assert got == want
    # ordering equivalence with the (unrounded) pow form
    pow_want = sorted(
        rows,
        key=lambda t: (-math.exp(-ekey(*t)), t[0]),
    )[:k]
    assert [i for i, _ in pow_want] == want


@PROP
@given(
    strs=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=9),
        min_size=2,
        max_size=7,
        unique=True,
    ),
    d=st.integers(1, 2),
)
def test_fuzzy_pairs_exact_recall_all_lengths(spark, strs, d):
    """Blocked edit-distance join ≡ brute force on random MIXED-LENGTH
    strings — the regime where the q-gram pigeonhole alone is void and
    the shared #short band must carry recall (a cross-length pair like
    ('ab','abcd') has no shared 3-gram)."""
    import itertools

    from pubmed_central_semantic_search_spark.operators.dedup import (
        fuzzy_string_pairs,
    )

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_string_pairs(df, max_dist=d).collect()
    }
    want = {
        (ia, ib): lev(sa, sb)
        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
        if lev(sa, sb) <= d
    }
    assert got == want
