"""S8 — versioned snapshots (time travel on plain parquet) over the same
commit log as the upsert tables (``fsio``). Every public name remains
importable from ``catalog``.

Reference: the reference snapshots its whole Qdrant store
(``scripts/setup_local_database.py:19-20`` restores one). Here every
snapshot writes its data under ``data/v{n}-<uuid>/`` — a name no other
commit can produce — and publishes ``_log/v{n}`` listing every file
the version reads (``append``: the prior version's files plus the new
ones; ``overwrite``: only the new ones). The atomic publish is the
commit point: readers only ever see fully written versions, a reader
pinned to version k is untouched by later writes (replaced files stay
until VACUUM), and a crash before the publish leaves only unreferenced
files. Concurrency contract: a snapshot reads the whole table, so two
racing writers always conflict — the loser raises
``ConcurrentUpsertError`` ("lost the commit race") by name and nothing
of it is published; a crash leaves the last version readable."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsio import (
    LOG_DIR,
    _hadoop_fs,
    commit,
    log_versions,
    place_files,
    read_files,
    read_record,
    retire_record,
    table_schema,
)

_FLAT = {"n_buckets": None, "bucket_cols": "", "bucket_col_types": [], "evolved": False}


def snapshot_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Committed (and not yet vacuumed) versions, ascending."""
    return log_versions(spark, table_dir)


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
) -> int:
    """Commit a new snapshot; returns its version (1-based).

    ``append`` — the new version sees all prior data plus this frame;
    ``overwrite`` — the new version sees only this frame. Either way the
    data of earlier versions is untouched (time travel until vacuum).
    A concurrent writer that published first makes this call raise
    ``ConcurrentUpsertError`` by name (module docstring)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    # resolve through the catalog module at call time: the version read
    # is this writer's race-window seam (the commit-race test pins it by
    # patching catalog.snapshot_versions)
    from . import catalog as _catalog

    started = time.perf_counter()
    versions = _catalog.snapshot_versions(spark, table_dir)
    base = read_record(spark, table_dir, versions[-1]) if versions else None
    version = (versions[-1] if versions else 0) + 1
    data = f"{table_dir.rstrip('/')}/data/v{version}-{uuid.uuid4().hex[:12]}"
    df.write.parquet(data)
    added = place_files(spark, table_dir, data, version, move=False)
    removed = {f["path"] for f in base["files"]} if base and mode == "overwrite" else set()
    record = commit(
        spark, table_dir, base, "SNAPSHOT", added, removed, None,
        table_schema(df), _FLAT, started,
    )
    return record["version"]


def snapshot_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot (default: latest). Time travel: any
    retained version reads exactly what it read at commit time."""
    versions = snapshot_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return read_files(spark, table_dir, read_record(spark, table_dir, version))


def _intended_version(name: str) -> int | None:
    """The version a commit's data was written for (``v{n}-…`` /
    ``v{n}.…`` names), None for names no commit produces."""
    digits = name[1:].split("-", 1)[0].split(".", 1)[0]
    return int(digits) if name.startswith("v") and digits.isdigit() else None


def snapshot_vacuum(
    spark: SparkSession, table_dir: str, keep_last: int = 1
) -> dict[str, int]:
    """VACUUM for any log table (snapshots and upsert tables): keep the
    newest ``keep_last`` versions, retire the older records, and delete
    every data directory or file no retained version references —
    retired versions' data and crash leftovers (``data/`` dirs,
    ``_staging/`` writes, unpublished files in the table or its bucket
    dirs). Returns {versions_removed, data_dirs_removed} (the second
    counts removed directories and files).

    Records are retired FIRST, data second, so a crash between the two
    leaves every listed version fully readable and a re-run finishes
    the data phase. Data a commit wrote for a version newer than the
    latest record is an in-flight first attempt and is never touched. A
    writer that lost the race and is republishing its files while
    VACUUM runs is not protected: run VACUUM where writes are
    serialized (as the streaming sink's foreachBatch does)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    from . import catalog as _catalog

    versions = snapshot_versions(spark, table_dir)
    if not versions:
        return {"versions_removed": 0, "data_dirs_removed": 0}
    latest = versions[-1]
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    referenced = {
        f["path"] for v in keep for f in read_record(spark, table_dir, v)["files"]
    }
    ref_dirs = {p.rsplit("/", 1)[0] for p in referenced if "/" in p}
    for v in drop:
        retire_record(spark, table_dir, v)
    if _catalog._TEST_MID_VACUUM_HOOK is not None:
        _catalog._TEST_MID_VACUUM_HOOK()  # test-only: crash between phases
    fs, hroot, jvm = _hadoop_fs(spark, table_dir)
    root = table_dir.rstrip("/")

    def children(rel):
        p = jvm.org.apache.hadoop.fs.Path(f"{root}/{rel}" if rel else root)
        return [(st.getPath(), st.isDirectory()) for st in fs.listStatus(p)] if fs.exists(p) else []

    removed = 0
    for top, is_dir in children(""):
        name = top.getName()
        if name in ("data", "_staging"):
            units = [(f"{name}/{p.getName()}", p, True) for p, d in children(name) if d]
        elif name == LOG_DIR or name.startswith("."):
            continue
        elif is_dir:
            units = [(f"{name}/{p.getName()}", p, False) for p, d in children(name) if not d]
        else:
            units = [(name, top, False)]
        for rel, p, unit_is_dir in units:
            n = _intended_version(p.getName())
            live = rel in ref_dirs if unit_is_dir else rel in referenced
            if n is None or n > latest or live:
                continue
            fs.delete(p, True)
            removed += 1
    return {"versions_removed": len(drop), "data_dirs_removed": removed}


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """S8 follow-through — CDC between two PINNED snapshot versions:
    (key cols..., change) with change ∈ {'inserted', 'deleted',
    'changed'} (unchanged rows are omitted — at table scale the diff is
    the small output, the identity mass is not worth shuffling back).

    Row equality = md5 of the canonical JSON of the non-key columns in
    sorted-name order, computed per side BEFORE the join — the full-outer
    join then carries only (key, fingerprint), never the payloads, so the
    shuffle is key-sized regardless of row width. Versions are immutable
    until vacuum, so the diff is reproducible.

    Keys must be UNIQUE per snapshot (the upsert-table invariant this
    catalog maintains): a duplicated key would fan out through the
    full-outer join and over-report changes."""
    old = snapshot_read(spark, table_dir, version=v_old)
    new = snapshot_read(spark, table_dir, version=v_new)
    payload = sorted(set(old.columns) - set(key_cols))
    if sorted(set(new.columns) - set(key_cols)) != payload:
        raise ValueError("snapshot schemas differ in non-key columns")

    def fingerprint(df: DataFrame, side: str) -> DataFrame:
        fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in payload])))
        return df.select(*key_cols, fp.alias(f"_fp_{side}"))

    joined = fingerprint(old, "old").join(
        fingerprint(new, "new"), key_cols, "full_outer"
    )
    return joined.withColumn(
        "change",
        F.when(F.col("_fp_old").isNull(), F.lit("inserted"))
        .when(F.col("_fp_new").isNull(), F.lit("deleted"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed")),
    ).filter(F.col("change").isNotNull()).select(*key_cols, "change")
