"""Round-8 verdict #2 — operator/query persist sites must carry a
release path: repeated invocations in one long session must not accrete
executor storage memory ("bench clears the cache" is a harness fact, not
a library contract)."""

import pytest
from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.session import (
    attach_cached_deps,
    cached_deps,
    release_cached_deps,
)


def _n_cached(spark) -> int:
    """Count persisted RDDs EXCLUDING localCheckpoint storage: checkpoint
    blocks are lineage truncation (unpersisting them would destroy data
    no plan can recompute — the ContextCleaner reclaims them when the
    last reference drops), so the release-path contract is scoped to the
    persist() sites the package controls."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(
        1 for r in m.values() if not r.rdd().isLocallyCheckpointed()
    )


def test_near_dup_minhash_attaches_releasable_deps(spark):
    from pubmed_central_semantic_search_spark.operators.dedup import (
        near_dup_minhash,
    )

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + str(i % 3))
         for i in range(20)],
        "doc_id long, text string",
    )
    before = _n_cached(spark)
    out = near_dup_minhash(df, "doc_id", "text", min_jaccard=0.5)
    out.count()  # consume — both persists materialize
    assert len(cached_deps(out)) == 2
    assert _n_cached(spark) == before + 2
    release_cached_deps(out, blocking=True)
    assert _n_cached(spark) == before
    # second release is a harmless no-op
    release_cached_deps(out, blocking=True)
    assert _n_cached(spark) == before


def test_ngram_jaccard_and_semantic_dedup_attach_deps(spark):
    from pubmed_central_semantic_search_spark.operators.clustering import (
        seed_centroids,
    )
    from pubmed_central_semantic_search_spark.operators.dedup import (
        ngram_jaccard_pairs,
        semantic_dedup,
    )

    df = spark.createDataFrame(
        [(i, "one two three four five six " + str(i % 2))
         for i in range(12)],
        "doc_id long, text string",
    )
    before = _n_cached(spark)
    out = ngram_jaccard_pairs(df, "doc_id", "text")
    out.count()
    assert len(cached_deps(out)) == 1
    release_cached_deps(out, blocking=True)
    assert _n_cached(spark) == before

    vec = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 2)]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    cents = seed_centroids(vec, 2)
    for keep in ("min_id", "far_from_centroid"):
        sem = semantic_dedup(vec, cents, min_cosine=0.99, keep=keep)
        sem.count()
        assert len(cached_deps(sem)) == 1
        release_cached_deps(sem, blocking=True)
        assert _n_cached(spark) == before


@pytest.mark.parametrize(
    "name",
    [
        "q23_minhash_near_dup",
        "q36_ngram_jaccard",
        "q53_dup_clusters",
        "q37_ivf_topk",
        "q38_kmeans_topics",
        "q21_document_pipeline",
    ],
)
def test_double_invocation_does_not_accrete_caches(spark, sf_dir, name):
    """The verdict's acceptance check verbatim: invoking a persisting
    registry query twice must not grow getPersistentRDDs — the second
    invocation's swap releases the first's tracked set."""
    from pubmed_central_semantic_search_spark.registry import REGISTRY

    REGISTRY[name].spark(spark, sf_dir).count()
    first = _n_cached(spark)
    REGISTRY[name].spark(spark, sf_dir).count()
    # unpersist in track_caches is non-blocking; poll briefly
    import time

    for _ in range(40):
        if _n_cached(spark) <= first:
            break
        time.sleep(0.25)
    assert _n_cached(spark) <= first


def test_attach_release_helpers_roundtrip(spark):
    base = spark.range(10)
    dep = spark.range(5).persist()
    dep.count()
    before = _n_cached(spark)
    out = attach_cached_deps(base, [dep])
    assert cached_deps(out) == [dep]
    release_cached_deps(out, blocking=True)
    assert _n_cached(spark) == before - 1
    assert cached_deps(out) == []


def test_repeat_invocation_keeps_its_own_cache_alive(spark, sf_dir):
    """Round-8 review find (measured 1.6x on x_pagerank): Spark's
    CacheManager matches persists by CANONICALIZED PLAN, so releasing the
    previous invocation's tracked deps AFTER the new plan-identical
    persist exists silently uncached the NEW persist too — every repeat
    invocation recomputed what it had just cached. The fix releases at
    query ENTRY, before the new persist is built; this pins that the
    second invocation's cache entry SURVIVES its own run."""
    from pubmed_central_semantic_search_spark.registry import REGISTRY

    for name, expected_min in [("q37_ivf_topk", 1), ("q23_minhash_near_dup", 2)]:
        REGISTRY[name].spark(spark, sf_dir).count()
        REGISTRY[name].spark(spark, sf_dir).count()
        # with the release-after bug, the second run's entries were
        # uncached mid-flight and this count read 0
        assert _n_cached(spark) >= expected_min, name
        # clean up for the next loop iteration
        spark.catalog.clearCache()


def test_cross_key_plan_identical_persists_are_refcounted(spark):
    """Round-9 ADVICE find: q37/q38/x_semdedup all persist plan-identical
    frames (load(sf_dir,'embeddings')) under DIFFERENT tracked keys, and
    Spark's CacheManager matches by canonicalized plan — releasing one
    key's deps used to drop the shared entry another key still tracked,
    so THAT key's later release was a no-op and its next run silently
    recomputed. Plan refcounts fix it: unpersist fires only when the
    last tracked reference goes."""
    from pubmed_central_semantic_search_spark.session import (
        release_tracked_caches,
        track_caches,
    )

    import time

    def _settle(target):
        for _ in range(40):
            if _n_cached(spark) == target:
                return
            time.sleep(0.25)

    before = _n_cached(spark)
    a = spark.range(100).select((F.col("id") * 2).alias("v")).persist()
    b = spark.range(100).select((F.col("id") * 2).alias("v")).persist()
    a.count()
    b.count()
    # plan-identical: CacheManager holds ONE entry for both
    assert _n_cached(spark) == before + 1
    track_caches("key_a", [a])
    track_caches("key_b", [b])
    release_tracked_caches("key_a")
    time.sleep(1.0)
    # key_b still tracks the plan — the shared entry must survive
    assert _n_cached(spark) == before + 1
    release_tracked_caches("key_b")
    _settle(before)
    assert _n_cached(spark) == before

    # re-tracking the SAME key with a plan-identical set keeps the
    # entry alive across the swap (acquire-before-release ordering)
    c = spark.range(50).select((F.col("id") + 7).alias("w")).persist()
    c.count()
    track_caches("key_c", [c])
    c2 = spark.range(50).select((F.col("id") + 7).alias("w")).persist()
    c2.count()
    assert _n_cached(spark) == before + 1
    track_caches("key_c", [c2])
    time.sleep(1.0)
    assert _n_cached(spark) == before + 1
    release_tracked_caches("key_c")
    _settle(before)
    assert _n_cached(spark) == before
