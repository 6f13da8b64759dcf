"""Table DDL + idempotent upsert writer (SURVEY §2.1 S7/S8/S9).

Reference: Qdrant collection DDL — exists-check, create with vector
config, delete+recreate (``qdrant.py:69-96``); batched upserts keyed by
the content-derived point id so re-upload overwrites (``qdrant.py:137-139,
149-175``); snapshots (``scripts/setup_local_database.py:19-20``).

Spark: parquet tables under one versioned commit log per table
(``fsio``: immutable data files, ``<table>/_log/v{n}`` records holding
the complete live file list, published by an atomic put-if-absent).
Every write here — upsert (flat and bucket-partitioned), group-replace,
compaction, rebucket — is "write new files, publish one log record";
the files a commit replaced are deleted only after it has published.
``snapshots`` commits through the same log. A plain parquet directory
(no log) joins the log as version 1 on its first upsert or compaction
(``_adopt``); from then on it is written through this module and read
through ``read_upsert_table``.

Concurrency contract: writers whose read buckets are disjoint converge
(the loser of the race republishes its files at the next version);
overlapping writers raise ``ConcurrentUpsertError`` by name (a flat
table is one bucket, so two flat writers always conflict); a crash at
any step leaves only unreferenced files — the last published version
stays readable and writable, and ``snapshot_vacuum`` (VACUUM) deletes
the leftovers. Nothing is reconciled on entry."""

from __future__ import annotations

import functools
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fsio import (  # noqa: F401
    BUCKET_COL,
    ConcurrentUpsertError,
    _hadoop_fs,
    check_conflicts,
    commit,
    delete_files,
    log_versions,
    place_files,
    read_files,
    read_record,
    retire_record,
    table_schema,
)
from .snapshots import (  # noqa: F401
    snapshot_diff,
    snapshot_read,
    snapshot_vacuum,
    snapshot_versions,
    snapshot_write,
)


def ensure_table(
    spark: SparkSession, name: str, df: DataFrame, path: str | None = None
) -> None:
    """S9 — create-if-not-exists from a DataFrame's schema."""
    if not spark.catalog.tableExists(name):
        writer = df.limit(0).write
        if path:
            writer = writer.option("path", path)
        writer.saveAsTable(name)


def reset_table(spark: SparkSession, name: str) -> None:
    """S9 — the reference's reset_database (drop + lazily recreated)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# an upsert-table commit retires the record this many versions back:
# the files of older versions are already deleted, so only a writer
# still racing from such an old read version would read the record (it
# then raises ConcurrentUpsertError), and the log's bytes stay bounded
# instead of growing by one full file list per commit
_KEEP_RECORDS = 16

# test-only injection point: called between snapshot_vacuum's two
# phases (records retired, data not yet deleted) so tests can pin the
# crash state — every listed version must still be readable
_TEST_MID_VACUUM_HOOK = None


def bucket_expr(bucket_cols, n_buckets: int):
    """THE bucket-hash formula — the one definition every consumer shares
    (the write path, the point-lookup read): ``pmod(xxhash64(*bucket_cols),
    n_buckets)``. A second copy drifting would prune reads to the WRONG
    buckets silently."""
    cols = [F.col(c) if isinstance(c, str) else c for c in bucket_cols]
    return F.pmod(F.xxhash64(*cols), F.lit(int(n_buckets)))


def _adoptable(spark, path, n_buckets):
    """The parquet files a directory without a commit log publishes as
    version 1 ([] when it is absent or holds none). Files a commit wrote
    but never published (``v{n}-`` names) stay out. A directory that
    cannot join the log raises by name before anything is written:
    a Structured Streaming file-sink output (its ``_spark_metadata``
    manifest pins exact file names: replacing them breaks every plain
    read of the root and the resumed stream); a ``_layout`` record (a
    table bucketed before the log existed, whose bucket key the caller's
    key may not reproduce); hive-partitioned ``key=value`` directories
    other than ``_bucket=`` (the log has no layout for them); and a
    layout the call contradicts — ``_bucket=`` directories on a flat
    call, flat files on a partitioned one, or a bucket at or past
    ``n_buckets``."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    P = jvm.org.apache.hadoop.fs.Path
    root = path.rstrip("/")
    if fs.exists(P(f"{root}/_spark_metadata")):
        raise ValueError(
            f"cannot adopt {path} into the commit log: it is a Structured "
            "Streaming file-sink output (_spark_metadata manifest) — the "
            "manifest pins exact file names, and replacing them breaks every "
            "read of the table root and the resumed stream. Stop the stream "
            "and rewrite it through a batch path first."
        )
    if fs.exists(P(f"{root}/_layout")):
        raise ValueError(
            f"cannot adopt {path} into the commit log: it carries a _layout "
            "record (a bucket-partitioned table written before the log), "
            "whose bucket key this call may not reproduce — rewrite it "
            "through upsert_parquet into a new path"
        )
    files = [
        f for f in place_files(spark, path, path, 0, move=False)
        if not re.match(r"v\d+-", f["path"].rsplit("/", 1)[-1])
    ]
    hive = sorted({
        f["path"].split("/", 1)[0] for f in files
        if "/" in f["path"] and f["bucket"] is None
    })
    if hive:
        raise ValueError(
            f"cannot adopt {path} into the commit log: it is hive-partitioned "
            f"(parquet under partition directories {hive[:3]}) — the log holds "
            f"no layout for them, only the {BUCKET_COL}= directories of a "
            "bucket-partitioned upsert table; rewrite it through upsert_parquet"
        )
    if n_buckets is None and any(f["bucket"] is not None for f in files):
        raise ValueError(
            f"cannot adopt {path} into the commit log: it carries {BUCKET_COL} "
            "partition directories — it is bucket-partitioned; upsert it with "
            "its n_buckets"
        )
    if n_buckets is not None and any(f["bucket"] is None for f in files):
        raise ValueError(
            f"upsert_parquet: table at {path} is FLAT but this call passes "
            f"n_buckets={n_buckets} — the layouts cannot be switched in "
            "place; rewrite the table once through the partitioned create path"
        )
    stray = sorted({f["bucket"] for f in files if n_buckets and f["bucket"] >= n_buckets})
    if stray:
        raise ValueError(
            f"upsert_parquet: layout mismatch — table at {path} holds "
            f"{BUCKET_COL} directories {stray} at or past n_buckets="
            f"{n_buckets}; it was written with another bucket count"
        )
    return files


def _adopt(spark, path, n_buckets, bucket_src, started):
    """Publish the files of a directory that holds parquet but no commit
    log (a plain parquet writer's output) as they stand, as version 1 —
    ``_adoptable`` names the directories that cannot join the log. The
    layout comes from the call; the schema is the union of every file's
    footer. Returns the record, or None for an absent or data-less
    directory. Once adopted, the directory is a log table: write it
    through ``upsert_parquet`` or the compactions and read it through
    ``read_upsert_table`` (a plain ``spark.read.parquet`` of the root
    also reads files a crashed commit left unpublished)."""
    files = _adoptable(spark, path, n_buckets)
    if not files:
        return None
    # the one schema inference this table ever pays
    existing = spark.read.option("mergeSchema", "true").parquet(
        *[f"{path.rstrip('/')}/{f['path']}" for f in files]
    )
    layout = {
        "n_buckets": n_buckets,
        "bucket_cols": ",".join(bucket_src) if n_buckets else "",
        "bucket_col_types": [
            existing.schema[c].dataType.simpleString() for c in bucket_src
        ] if n_buckets else [],
        "evolved": False,
    }
    return commit(
        spark, path, None, "ADOPT", files, set(), None,
        table_schema(existing), layout, started,
    )


def _bucketed(df, bucket_cols, n_buckets):
    """``df`` with its bucket column, one task per bucket — so a write
    cuts one file per bucket."""
    return df.withColumn(BUCKET_COL, bucket_expr(bucket_cols, n_buckets)).repartition(
        F.col(BUCKET_COL)
    )


def _publish(spark, path, base, build, layout, operation, read_buckets, started) -> dict:
    """Write ``build()``'s frame as new files and publish them as one
    version that replaces ``base``'s files in ``read_buckets`` (all of
    them when None). A partitioned frame carries the bucket column and
    arrives partitioned the way its files should be cut. The replaced
    files, and bucket directories left without live files, are deleted
    after the publish, and the record ``_KEEP_RECORDS`` versions back is
    retired. A lost race deletes this commit's own files before it
    raises."""
    version = (base["version"] if base else 0) + 1
    staging = f"{path.rstrip('/')}/_staging/v{version}.{uuid.uuid4().hex}"
    try:
        out = build()
        if layout["n_buckets"]:
            out.write.partitionBy(BUCKET_COL).parquet(staging)
        else:
            out.write.parquet(staging)
    except Exception:
        # an overlapping commit that published meanwhile has deleted the
        # files this one reads: report that conflict by name
        check_conflicts(spark, path, base, read_buckets, operation)
        raise
    added = place_files(spark, path, staging, version, move=True)
    removed = {
        f["path"] for f in (base["files"] if base else [])
        if read_buckets is None or f["bucket"] in read_buckets
    }
    try:
        record = commit(
            spark, path, base, operation, added, removed, read_buckets,
            table_schema(out), layout, started,
        )
    except ConcurrentUpsertError:
        delete_files(spark, path, [f["path"] for f in added])
        raise
    live_dirs = {f["path"].rsplit("/", 1)[0] for f in record["files"] if "/" in f["path"]}
    emptied = {p.rsplit("/", 1)[0] for p in removed if "/" in p} - live_dirs
    delete_files(spark, path, sorted(removed) + sorted(emptied))
    if record["version"] > _KEEP_RECORDS:
        retire_record(spark, path, record["version"] - _KEEP_RECORDS)
    return record


def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str | None = None,
    replace_group_col: str | None = None,
    n_buckets: int | None = None,
    allow_schema_evolution: bool = False,
    persist_batch: bool = False,
) -> dict | None:
    """S7 — idempotent keyed write: new rows win over existing rows with
    the same key (the reference's content-keyed overwrite semantics).

    One commit: read the latest log record, merge the batch with the
    live files it touches, write the merged rows as NEW files, publish
    one record (``fsio.commit``), then delete the replaced files.
    Returns the published record (its ``buckets`` are the buckets the
    commit rewrote; None for a flat table), or None when an empty
    partitioned batch committed nothing.
    Concurrency: disjoint-bucket writers converge, overlapping ones raise
    ``ConcurrentUpsertError`` by name, a crash leaves the last version
    readable and writable (module docstring). A directory holding
    parquet but no log is adopted as version 1 first (``_adopt``; the
    directories it refuses raise by name and are left untouched).

    ``persist_batch``: the merge consumes the batch plan MORE THAN ONCE
    (the partitioned arm's touched-buckets collect + the final write;
    group-replace adds the group-set subtree). A batch with an EXPENSIVE
    upstream (an encoder stage — api.upload_articles) should pass True so
    the upstream runs once; the default stays False because for cheap
    batches re-reading the source beats materializing a cache (measured:
    persisting q62's thin projections cost ~1.4 s/roundtrip).

    ``replace_group_col`` upgrades the merge to GROUP-REPLACING: every
    existing row whose group value appears in ``df`` is dropped before
    the keyed merge, so group members ABSENT from the new batch disappear
    (a keyed upsert alone cannot delete — re-uploading a shortened
    article would leave its removed paragraphs behind). The group set is
    batch-sized by the ingest contract, so it broadcasts.

    ``n_buckets`` selects the PARTITIONED layout (the 100 TB shape): files
    live under ``_bucket=pmod(xxhash64(bucket key), n_buckets)`` and an
    upsert reads, merges and rewrites ONLY the buckets present in the
    batch — cost scales with the batch, never the table; untouched
    buckets' files stay byte-identical. The bucket key is fixed at
    creation (``replace_group_col`` when set — group-replace must see
    every row of a group — else ``key_cols``), stored in the log's
    layout, and used by every later upsert; it must ride in each batch
    and be stable per merge key across uploads. Size ``n_buckets`` to
    hold a bucket at a few GB at the table's target size (``rebucket``
    changes it later with one full rewrite). The layouts are not
    interchangeable: keep calling a table the way it was created. An
    empty batch commits nothing (an empty partitioned create leaves the
    table absent).

    ``allow_schema_evolution``: by default a batch whose columns differ
    from the table's raises (unionByName's strict contract — a typo'd
    column name must not silently fork the schema). Opting in unions
    with ``allowMissingColumns=True``: columns NEW in the batch join the
    table schema (existing rows read them as null), columns ABSENT from
    the batch stay (a replaced key's new version carries null there).
    Key, version, and group columns must always ride in the batch. On
    the partitioned layout evolution is table-sticky: once a merge
    evolved the schema, later merges accept old-schema batches, but
    widening further still needs the flag. Readers always see the
    record's (union) schema."""
    reserved = {"_is_new", "_rn"} & set(df.columns)
    if reserved:
        # the merge window's working columns are added then DROPPED — a
        # same-named data column would silently vanish from the table
        raise ValueError(
            f"upsert_parquet: input columns {sorted(reserved)} are "
            "reserved for the merge; rename them"
        )
    required = set(key_cols)
    if version_col:
        required.add(version_col)
    if replace_group_col:
        required.add(replace_group_col)
    missing_req = sorted(required - set(df.columns))
    if missing_req:
        # validated HERE, not left to the union: under
        # allow_schema_evolution a batch missing a key column would be
        # silently null-keyed and collapse into one row
        raise ValueError(
            f"upsert_parquet: batch is missing required merge columns "
            f"{missing_req} (key/version/group columns must ride in "
            "every batch)"
        )
    if n_buckets is not None:
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        if BUCKET_COL in df.columns:
            raise ValueError(
                f"upsert_parquet(n_buckets=...): input already has a "
                f"{BUCKET_COL!r} column — it is reserved for the partition "
                "layout; rename the data column"
            )
    # NULL key VALUES raise at execution: every null-key row would land
    # in ONE merge-window group and collapse to a single arbitrary row.
    # A narrow when() per key col — it runs inside the merge's own jobs.
    for k in key_cols:
        df = df.withColumn(
            k,
            F.when(F.col(k).isNotNull(), F.col(k)).otherwise(
                F.raise_error(F.lit(
                    f"upsert_parquet: NULL in key column {k!r} — a keyed "
                    "merge collapses all null-key rows into one; filter "
                    "or repair the batch upstream"
                )).cast(df.schema[k].dataType)
            ),
        )
    started = time.perf_counter()
    bucket_src = [replace_group_col] if replace_group_col else list(key_cols)
    base = read_record(spark, path) or _adopt(spark, path, n_buckets, bucket_src, started)
    stored = base["layout"] if base else None
    if stored is not None:
        if stored["n_buckets"] is None and n_buckets is not None:
            raise ValueError(
                f"upsert_parquet: table at {path} is FLAT but this call "
                f"passes n_buckets={n_buckets} — the layouts cannot be "
                "switched in place; rewrite the table once through the "
                "partitioned create path"
            )
        if stored["n_buckets"] is not None and n_buckets is None:
            raise ValueError(
                f"upsert_parquet: table at {path} is bucket-partitioned "
                f"(n_buckets={stored['n_buckets']}, bucket key "
                f"[{stored['bucket_cols']}]) — a flat upsert would flatten "
                f"it; call with n_buckets={stored['n_buckets']}"
            )
        if n_buckets is not None:
            if int(stored["n_buckets"]) != n_buckets:
                raise ValueError(
                    f"upsert_parquet: layout mismatch — table at {path} has "
                    f"n_buckets={stored['n_buckets']}; this call uses "
                    f"n_buckets={n_buckets}. Change it with rebucket()."
                )
            bucket_src = stored["bucket_cols"].split(",")
            if replace_group_col is not None and bucket_src != [replace_group_col]:
                raise ValueError(
                    "upsert_parquet: layout mismatch — group-replace on "
                    f"column {replace_group_col!r} but the table is bucketed "
                    f"by [{stored['bucket_cols']}]; groups would straddle "
                    "buckets and deleted members would survive in others."
                )
            missing = [c for c in bucket_src if c not in df.columns]
            if missing:
                raise ValueError(
                    f"upsert_parquet: the table's bucket key {missing} is not "
                    "in the incoming frame — the stored layout's key must ride "
                    "in every batch so rows hash into their existing buckets"
                )
    evolved = n_buckets is not None and bool(stored and stored["evolved"])
    effective_evolution = allow_schema_evolution or evolved
    layout = {
        "n_buckets": n_buckets,
        "bucket_cols": ",".join(bucket_src) if n_buckets else "",
        "bucket_col_types": [
            df.schema[c].dataType.simpleString() for c in bucket_src
        ] if n_buckets else [],
        "evolved": n_buckets is not None and (evolved or allow_schema_evolution),
    }
    if stored is not None and n_buckets is not None:
        layout["bucket_col_types"] = stored["bucket_col_types"]
    if persist_batch:
        df = df.persist()
    try:
        touched = None
        if n_buckets is not None:
            bexpr = bucket_expr(bucket_src, n_buckets)
            touched = sorted(r[0] for r in df.select(bexpr).distinct().collect())
            if not touched:
                return None  # an empty batch commits nothing
        def merge():
            if base is None and n_buckets is not None:
                # a partitioned create writes the batch as it comes: no
                # shuffle, and rows keep their source order within a bucket
                return _bucketed(df, bucket_src, n_buckets)
            tagged = df.withColumn("_is_new", F.lit(1))
            if base is not None:
                existing = read_files(spark, path, base, touched)
                if evolved and not allow_schema_evolution:
                    # sticky evolution accepts OLD-schema batches, but
                    # widening the schema FURTHER still needs the flag
                    extra = sorted(set(df.columns) - set(existing.columns))
                    if extra:
                        raise ValueError(
                            f"upsert_parquet: batch adds new columns {extra} "
                            "to an evolved table — pass "
                            "allow_schema_evolution=True to widen the schema"
                        )
                if replace_group_col is not None:
                    groups = df.select(replace_group_col).distinct()
                    existing = existing.join(
                        F.broadcast(groups), replace_group_col, "left_anti"
                    )
                tagged = existing.withColumn("_is_new", F.lit(0)).unionByName(
                    tagged, allowMissingColumns=effective_evolution
                )
            order = [F.col("_is_new").desc()] + (
                [F.col(version_col).desc()] if version_col else []
            )
            merged = (
                tagged.withColumn("_rn", F.row_number().over(
                    Window.partitionBy(*key_cols).orderBy(*order)
                ))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_is_new")
            )
            return merged if n_buckets is None else _bucketed(merged, bucket_src, n_buckets)

        op = "CREATE" if base is None else (
            "GROUP_REPLACE" if replace_group_col else "UPSERT"
        )
        return _publish(spark, path, base, merge, layout, op, touched, started)
    finally:
        if persist_batch:
            df.unpersist()


def _fold_bucket_ids(
    spark: SparkSession, probes: list[list[tuple]], n_buckets: int
) -> list[int]:
    """Evaluate ``pmod(xxhash64(lits...), n_buckets)`` for each probe
    entirely DRIVER-SIDE: a foldable projection over ``VALUES (1)`` (a
    LocalRelation) is collapsed by the ConvertToLocalRelation optimizer
    rule into a LocalTableScan whose executeCollect never schedules a
    task (0 jobs, ~30 ms for any number of probes in one select).

    ``probes``: one entry per lookup key, each a list of
    ``(value, type_simple_string)`` pairs matching the bucket cols. The
    cast to the STORED column type is load-bearing — xxhash64 of an int
    literal and a long column differ, and a mismatch would prune to the
    wrong bucket."""
    exprs = []
    for i, lits in enumerate(probes):
        cols = [F.lit(v).cast(t) for v, t in lits]
        exprs.append(bucket_expr(cols, n_buckets).alias(f"_b{i}"))
    row = spark.sql("VALUES (1)").select(*exprs).collect()[0]
    return [int(row[i]) for i in range(len(probes))]


def read_upsert_table(
    spark: SparkSession,
    path: str,
    key_equals: dict | None = None,
) -> DataFrame:
    """Read an upsert table in either layout — one read of its latest log
    record: the live file list and the schema come from the record, then
    ``spark.read.schema(...).parquet(*files)``. No schema-inference job,
    no listing of the table root (up to Spark's parallel-listing
    threshold of 32 files, the read launches no Spark job at all).
    Consumers see the same schema whatever the layout; the bucket column
    is never part of it.

    ``key_equals`` ({col: value}) applies equality filters; when they
    COVER the partitioned table's stored bucket key (the bucket cols may
    be a strict subset — e.g. a group-bucketed table probed by
    ``{'grp': g, 'doc_id': k}``) the file list is pruned to the key's
    bucket, whose id is folded driver-side with the literal cast to the
    stored column type (``_fold_bucket_ids``). A LIST value ({col: [v1,
    v2, ...]}) is a BATCH lookup (the serving shape: fetch k articles in
    one read): the files are the union of the keys' buckets (every file
    once the keys are at least as many as the buckets) and the filter is
    an IN; list-valued BUCKET columns are supported for
    single-column bucket keys only. An EMPTY list returns an empty frame
    without scanning anything.

    The record's schema is the union every commit evolved to (files
    written before an evolution read the new columns as null). A
    directory without a commit log is read as plain parquet."""
    record = read_record(spark, path)
    key_equals = key_equals or {}
    multi = {c for c, v in key_equals.items() if isinstance(v, (list, tuple, set))}
    empty = any(len(list(key_equals[c])) == 0 for c in multi)
    if record is None:
        df = spark.read.parquet(path)
        if BUCKET_COL in df.columns:
            df = df.drop(BUCKET_COL)
        if empty:
            return df.filter(F.lit(False))
    else:
        buckets = [] if empty else None
        layout = record["layout"]
        bcols = layout["bucket_cols"].split(",") if layout["bucket_cols"] else []
        if (
            not empty and layout["n_buckets"] and bcols
            and set(bcols) <= set(key_equals)
        ):
            bmulti = [c for c in bcols if c in multi]
            if bmulti and len(bcols) > 1:
                raise ValueError(
                    "read_upsert_table: list-valued key_equals (batch "
                    "lookup) supports single-column bucket keys only — "
                    f"this table buckets on {bcols}"
                )
            types = layout["bucket_col_types"]
            if bmulti:
                probes = [[(v, types[0])] for v in key_equals[bcols[0]]]
            else:
                probes = [[(key_equals[c], t) for c, t in zip(bcols, types)]]
            # with at least as many keys as buckets the lookup reads every
            # file (the IN filter still selects the rows): most buckets are
            # hit anyway, and the fold's plan time grows with the keys
            if len(probes) < layout["n_buckets"]:
                buckets = set(_fold_bucket_ids(spark, probes, layout["n_buckets"]))
        df = read_files(spark, path, record, buckets)
        if empty:
            return df
    for c, v in key_equals.items():
        df = df.filter(F.col(c).isin(list(v)) if c in multi else F.col(c) == v)
    return df


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict[str, int]:
    """Small-file compaction — the housekeeping job every long-lived
    parquet table needs: streaming micro-batches, per-partition upserts
    and fine-grained partitionBy all accrete files far below the
    scan-efficient size. Rewrites a flat table to ``ceil(bytes /
    target_file_bytes)`` files (optionally re-sorted to restore
    clustering, e.g. a z-order key). Returns {files_before, files_after,
    bytes}.

    One commit: new files, one published ``COMPACT`` record, the old
    files deleted after; a crash leaves the last version readable. A
    plain parquet directory without a log is adopted as version 1 first
    (``_adopt``, as ``upsert_parquet`` does), so afterwards it is a log
    table: read it through ``read_upsert_table``. Bucket-partitioned
    tables and hive-partitioned directories raise — flat compaction
    would drop their layout; a bucket-partitioned table compacts through
    ``compact_partitioned_leaves``. A path with no parquet raises."""
    started = time.perf_counter()
    base = read_record(spark, path) or _adopt(spark, path, None, [], started)
    if base is None:
        raise ValueError(f"compact_parquet: {path} holds no parquet files")
    if base["layout"]["n_buckets"]:
        raise ValueError(
            f"compact_parquet: {path} is hive-partitioned (a bucket-"
            "partitioned upsert table); flat compaction would drop its "
            "layout — use compact_partitioned_leaves"
        )
    sizes = [f["bytes"] for f in base["files"]]
    record = _publish(
        spark, path, base,
        lambda: _sized(read_files(spark, path, base), sum(sizes), target_file_bytes, sort_cols),
        base["layout"], "COMPACT", None, started,
    )
    return {"files_before": len(sizes), "files_after": len(record["files"]), "bytes": sum(sizes)}


def _sized(df, total_bytes, target_file_bytes, sort_cols=None):
    import math

    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    if sort_cols:
        return df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    return df.repartition(n_out)


def compact_partitioned_leaves(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_files_per_leaf: int = 1,
) -> dict[str, int]:
    """Leaf-level compaction of a bucket-partitioned upsert table — the
    housekeeping ``compact_parquet`` refuses. Buckets at or under
    ``max_files_per_leaf`` files are skipped, so steady-state runs touch
    only the buckets that grew; each grown bucket is rewritten to
    ``ceil(bytes / target_file_bytes)`` files, all as ONE commit (one
    published record, the old files deleted after). A concurrent upsert
    touching a compacted bucket makes one of the two raise
    ``ConcurrentUpsertError``. Returns {leaves_seen, leaves_compacted,
    files_before, files_after}.

    A flat table raises — use ``compact_parquet``. A directory without a
    commit log raises by name and writes nothing: hive-partitioned
    ``key=value`` directories have no layout in the log, and a streaming
    file-sink output's ``_spark_metadata`` manifest pins exact file names
    (``_adoptable``)."""
    started = time.perf_counter()
    base = read_record(spark, path)
    if base is None:
        _adoptable(spark, path, None)  # the refusals by name
    if base is None or not base["layout"]["n_buckets"]:
        raise ValueError(
            f"compact_partitioned_leaves: {path} is not a bucket-partitioned "
            "upsert table (no partition directories) — use compact_parquet"
        )
    by_bucket: dict[int, list[dict]] = {}
    for f in base["files"]:
        by_bucket.setdefault(f["bucket"], []).append(f)
    grown = sorted(b for b, fl in by_bucket.items() if len(fl) > max_files_per_leaf)
    files_before = len(base["files"])
    files_after = files_before
    if grown:
        def compacted():
            # each grown bucket cut to its own file count, one frame
            return functools.reduce(DataFrame.unionByName, [
                _sized(
                    read_files(spark, path, base, [b]),
                    sum(f["bytes"] for f in by_bucket[b]), target_file_bytes,
                ).withColumn(BUCKET_COL, F.lit(b))
                for b in grown
            ])

        record = _publish(
            spark, path, base, compacted, base["layout"], "COMPACT", grown, started
        )
        files_after = len(record["files"])
    return {
        "leaves_seen": len(by_bucket),
        "leaves_compacted": len(grown),
        "files_before": files_before,
        "files_after": files_after,
    }


def rebucket(
    spark: SparkSession,
    path: str,
    new_n_buckets: int,
) -> dict[str, int]:
    """Bucket-count lifecycle for the partitioned upsert layout:
    ``n_buckets`` is fixed at table creation, but the per-upsert cost
    math (bucket size = table / n_buckets) only holds while buckets track
    table size — a table that grew 100× needs more buckets, and
    re-hashing keys into different buckets requires a full rewrite.

    One rewrite plus one commit: read the live files, re-hash every row
    into ``new_n_buckets``, write new files, publish one record carrying
    the new layout (it reads the whole table, so any concurrent writer
    conflicts with it and one of the two raises ``ConcurrentUpsertError``
    by name; an upsert still passing the old count raises "layout
    mismatch"), then delete the old files and emptied bucket
    directories. A crash leaves the old version intact; re-run the call.
    A same-count call is a no-op (rows == -1). Returns {old_n_buckets,
    new_n_buckets, rows}."""
    if new_n_buckets < 1:
        raise ValueError(f"rebucket: new_n_buckets must be >= 1, got {new_n_buckets}")
    started = time.perf_counter()
    base = read_record(spark, path)
    if base is None or not base["layout"]["n_buckets"]:
        raise ValueError(
            f"rebucket: table at {path} is not a bucket-partitioned upsert "
            "table (a flat table has no bucket count to change)"
        )
    old_n = int(base["layout"]["n_buckets"])
    if old_n == new_n_buckets:
        return {"old_n_buckets": old_n, "new_n_buckets": new_n_buckets, "rows": -1}
    bucket_src = base["layout"]["bucket_cols"].split(",")
    layout = dict(base["layout"], n_buckets=int(new_n_buckets))
    record = _publish(
        spark, path, base,
        lambda: _bucketed(read_files(spark, path, base), bucket_src, new_n_buckets),
        layout, "REBUCKET", None, started,
    )
    return {
        "old_n_buckets": old_n,
        "new_n_buckets": new_n_buckets,
        "rows": sum(f["rows"] for f in record["files"]),
    }
