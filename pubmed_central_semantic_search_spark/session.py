"""SparkSession factory.

Defaults target the driver harness (single-JVM ``local[32]``, 128 GiB box)
but every knob is an argument or env var so the same code runs on a real
multi-executor cluster: on a cluster, ``master`` comes from spark-submit and
the shuffle-partition count should be ~2-3× total cores (AQE coalesces the
excess at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pmc-semantic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing + skew-join splitting, so plans
      built for 100 TB don't over-shuffle at test scale and vice versa.
    - Arrow on: the encoder pandas_udf and any ``mapInPandas`` operators move
      batches over Arrow, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics vs the DuckDB
      oracle.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Guide §9/§3.1: let the planner pick shuffled-hash join when its
        # size conditions hold instead of always sort-merge — skips both
        # sort passes. Round-13 interleaved A/B at sf0.1 (min of 3x2):
        # q16 5.44→3.55 s, q23 4.76→2.45 s, q53 neutral; plan check:
        # SortMergeJoin → ShuffledHashJoin on the md5/band equi-joins.
        # At scale the planner still gates SHJ on per-partition build
        # size (and AQE skew-split applies to SHJ too); env-overridable
        # for clusters that want the always-spillable SMJ back.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
    )
    if master.startswith("local"):
        # Pin the driver address to loopback in local mode: the default
        # resolves the container/host name, and on hosts where that
        # resolution is slow every job touching a Python LOCAL relation
        # (createDataFrame from lists — the layout records, packed-literal
        # seeds, k-row result frames) paid a measured ~5 s PER ACTION in
        # the data-serving socket handshake (q62 alone carried 2 of them).
        # Cluster masters keep the default — executors must be able to
        # reach the driver, and loopback would break that.
        builder = builder.config("spark.driver.host", "127.0.0.1").config(
            "spark.driver.bindAddress", "127.0.0.1"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, rows, schema):
    """Driver-local rows → DataFrame over the Arrow/pandas channel.

    ``spark.createDataFrame(list, schema)`` builds a pickled-RDD local
    relation whose data is RE-SERVED from the Python driver on EVERY
    action — measured at ~5-6 s PER WRITE JOB on the bench host (a
    python-worker/serving handshake cost, paid by the layout records,
    k-row result frames, and packed query/centroid seeds each time their
    plan executes). Routing the same rows through a pandas frame uses the
    Arrow channel instead: the data crosses once, JVM-side, ~30× faster.

    Semantics are unchanged (test-pinned): columns map POSITIONALLY to
    ``schema`` (DDL string or StructType), None stays null, arrays/
    structs/timestamps/dates round-trip. Rows may be tuples, lists, or
    Row objects. Empty input falls back to the plain path (an empty
    pandas frame carries no arity for positional mapping).

    ONE documented divergence from ``createDataFrame(list)``: a float
    ``NaN`` cell arrives as NULL (pandas cannot carry the NaN-vs-None
    distinction through an object column). The package designs NaN out
    of every shipped value (the cosine zero-norm rule: degenerate math
    scores 0.0, never NaN) — a caller that genuinely must ship NaN uses
    the plain path. Pinned in test_imports.py.
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    # dtype=object: pandas otherwise coerces an int column that contains
    # ANY None to float64 (None -> NaN), and a LongType field then
    # receives 217.0 — found round-8 when q62's diff arm put NULL
    # n_chars next to the table arm's ints. Object columns keep Python
    # ints and None as-is; Arrow still infers the correct types from the
    # explicit schema.
    return spark.createDataFrame(
        pd.DataFrame([tuple(r) for r in rows], dtype=object), schema=schema
    )


def collect_bounded(df, max_rows: int, what: str = ""):
    """Collect a frame the CALLER asserts is k-sized — with the guard the
    assertion deserves (round-6 verdict #7: ``bpe_train_local`` carried a
    named ``max_rows`` fence while every other audited k-row collect was
    bounded only by construction, so a future caller could silently scale
    a "k-row" side into a driver OOM).

    Reads ``max_rows + 1`` rows (a LIMIT — never more than the bound
    crosses the wire even when the frame is huge) and raises a NAMED
    error when the bound is exceeded. Row order is whatever the plan
    yields, same as plain ``collect()`` on an unordered frame — callers
    that need order sort first (LIMIT after a sort is TakeOrdered and
    preserves it)."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        label = f" ({what})" if what else ""
        raise ValueError(
            f"collect_bounded{label}: result exceeds max_rows={max_rows} — "
            "this side was asserted driver-sized. Raise the bound if the "
            "driver can genuinely hold it, or restructure the operator so "
            "the large side stays distributed."
        )
    return rows


# ---------------------------------------------------------------------------
# Cache-lifetime discipline (round-8 verdict #2): operators that persist
# intermediates whose lifetime outlives the function (the returned lazy
# plan still references them) must hand the caller a RELEASE PATH —
# "bench clears the cache between entries" is a harness fact, not a
# library contract, and a long-session caller invoking such operators
# repeatedly accretes executor storage memory without one.

def attach_cached_deps(df, deps):
    """Record persisted intermediates on the frame that references them.
    Returns ``df``; later transformations produce NEW frames that do not
    carry the attachment — capture deps (``cached_deps``) before
    projecting if you need to release downstream."""
    df._pmc_cached_deps = list(getattr(df, "_pmc_cached_deps", ())) + list(deps)
    return df


def cached_deps(df) -> list:
    """The persisted intermediates attached to ``df`` ([] when none)."""
    return list(getattr(df, "_pmc_cached_deps", ()))


def release_cached_deps(df, blocking: bool = False) -> None:
    """Unpersist every intermediate attached to ``df`` — call after the
    action that consumed the frame. Safe to call twice (second is a
    no-op); already-unpersisted deps don't raise."""
    for d in getattr(df, "_pmc_cached_deps", ()):
        try:
            d.unpersist(blocking)
        except Exception:
            pass
    df._pmc_cached_deps = []


_TRACKED_CACHES: dict[str, list] = {}
# Refcounts keyed by CANONICAL-PLAN identity (round-9 ADVICE find):
# Spark's CacheManager matches persists by canonicalized plan, so two
# queries that persist plan-identical frames (q37/q38/x_semdedup all
# persist load(sf_dir, 'embeddings')) share ONE cache entry — releasing
# either key's deps would drop the entry the OTHER key still relies on,
# making its later release a no-op and its next run silently recompute.
# unpersist only fires when the LAST tracked reference to a plan goes.
_PLAN_REFS: dict[object, int] = {}


def _plan_identity(d):
    """Identity under which Spark's CacheManager would match ``d`` —
    the analyzed plan's semantic hash (canonicalization-aware). A hash
    collision only delays an unpersist (perf, never correctness)."""
    try:
        return ("plan", d._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        return ("obj", id(d))


def _refs_acquire(deps) -> list[tuple[object, object]]:
    """Increment each dep's plan refcount and return (identity, df)
    pairs. The identity is computed ONCE here and carried to release
    (round-10 ADVICE: _plan_identity falls back to ('obj', id(d)) on
    JVM failure — a semanticHash that succeeded at acquire but failed
    at release would decrement a DIFFERENT key, drive its count to -1,
    and unpersist a plan another key still tracks)."""
    pairs = []
    for d in deps:
        k = _plan_identity(d)
        _PLAN_REFS[k] = _PLAN_REFS.get(k, 0) + 1
        pairs.append((k, d))
    return pairs


def _refs_release(pairs, blocking: bool = False) -> None:
    for k, d in pairs:
        n = _PLAN_REFS.get(k, 0) - 1
        if n > 0:
            _PLAN_REFS[k] = n
            continue  # another key still tracks this plan's cache
        _PLAN_REFS.pop(k, None)
        try:
            d.unpersist(blocking)
        except Exception:
            pass


def release_tracked_caches(key: str) -> None:
    """Release whatever a previous invocation tracked under ``key``.

    MUST run BEFORE the new invocation builds its persists (round-8
    review find, measured at 1.6x on x_pagerank): Spark's CacheManager
    matches persists by CANONICALIZED PLAN — consecutive invocations of
    the same query produce plan-identical persists that share ONE cache
    entry, so unpersisting the old frame AFTER the new persist exists
    silently drops the NEW cache too and every repeat invocation
    recomputes what it just cached. Plan-identical persists tracked
    under OTHER keys are refcounted: this release only unpersists plans
    no remaining key tracks. ``_TRACKED_CACHES`` stores (identity, df)
    pairs captured at acquire time, so acquire and release always use
    the same refcount key even if the JVM call's success flips between
    the two moments."""
    _refs_release(_TRACKED_CACHES.pop(key, ()))


def track_caches(key: str, deps) -> None:
    """Track ``deps`` under ``key`` for the NEXT invocation's
    ``release_tracked_caches`` — together they bound REGISTRY queries
    whose returned plan still needs its persists at the driver's collect
    (the query function itself cannot release them) to at most one live
    cache set per query key. Re-tracking a key releases its previous
    set (refcounted — new deps are acquired FIRST, so a plan-identical
    carry-over keeps its cache entry alive across the swap)."""
    pairs = _refs_acquire(list(deps))
    if key in _TRACKED_CACHES:
        _refs_release(_TRACKED_CACHES.pop(key))
    _TRACKED_CACHES[key] = pairs

