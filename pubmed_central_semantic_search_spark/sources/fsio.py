"""Driver-side filesystem IO and the per-table commit log shared by the
table modules (``catalog`` for upsert tables, ``snapshots`` for
versioned snapshots). Everything here runs on the DRIVER through the
Hadoop ``FileSystem`` API (HDFS/S3A/local alike) and never launches a
Spark job.

The commit log is the Delta Lake pattern (Armbrust et al., VLDB 2020).
Data files are immutable. A table version is one JSON record at
``<table>/_log/v{n}`` holding the complete live file list (each file
with its bucket, row count and bytes), the schema, the layout, and the
commit's own facts: operation, files and bytes added and removed, the
buckets it read, the writer and the duration. A reader opens one
record. A writer publishes ``v{n+1}`` with one atomic put-if-absent
(``_put_if_absent``); the loser of a race learns it from the put
itself (``commit``).

Concurrency contract: writers whose read buckets are disjoint converge
(the loser republishes its files at the next version, no data
rewrite); overlapping writers raise ``ConcurrentUpsertError`` by name; a
crash at any step leaves only unreferenced files, and the last
published version stays readable and writable. Record names are never
freed: VACUUM (and an upsert-table commit, for the record 16 versions
back) empties a retired record instead of deleting it, so a stale
writer can never re-publish a retired version. Versions are therefore
contiguous, and the latest is found by probing forward
(``latest_version``) instead of listing the log."""

from __future__ import annotations

import json
import os
import socket
import threading
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType

LOG_DIR = "_log"
BUCKET_COL = "_bucket"  # the bucket-partition column (directories _bucket=<b>)


class ConcurrentUpsertError(RuntimeError):
    """A commit lost the race for its version to a commit that touched a
    bucket this one read (or changed the table's schema or layout).
    Publishing anyway would drop that commit's rows (a lost update), so
    nothing was published; this commit's files are unreferenced. Retry
    the operation, or route the contended buckets through one writer
    (the streaming sink's foreachBatch)."""


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _read_text(spark: SparkSession, path: str) -> str | None:
    """One small file's text, or None if absent."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _put_if_absent(spark: SparkSession, path: str, text: str) -> bool:
    """Publish ``text`` at ``path`` iff nothing is there — atomically: two
    racing callers never both succeed, and a reader never sees a partial
    file. The text is fully written to a unique temp file first. On the
    local filesystem ``os.link`` then publishes it (it fails on an
    existing name; Hadoop's local ``rename`` would overwrite it). Other
    filesystems publish with ``FileSystem.rename``, which refuses an
    existing destination on HDFS; an object store needs its own
    conditional put (S3 If-None-Match) here."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    parent, name = path.rstrip("/").rsplit("/", 1)
    tmp = f"{parent}/.{name}.{uuid.uuid4().hex}.tmp"
    if fs.getUri().getScheme() == "file":
        local = hpath.toUri().getPath()
        tmp_local = os.path.join(os.path.dirname(local), os.path.basename(tmp))
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(tmp_local, "w", encoding="utf-8") as fh:
            fh.write(text)
        try:
            os.link(tmp_local, local)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp_local)
    P = jvm.org.apache.hadoop.fs.Path
    out = fs.create(P(tmp), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.rename(P(tmp), hpath):
        return True
    fs.delete(P(tmp), False)
    return False


# --- the commit log ---------------------------------------------------------


def _record_path(table: str, version: int) -> str:
    return f"{table.rstrip('/')}/{LOG_DIR}/v{version}"


def _record_sizes(spark: SparkSession, table: str) -> list[tuple[str, int]]:
    """(name, size) of every record file in the table's log ([] without a
    log) — one listing of the whole history."""
    fs, hpath, _ = _hadoop_fs(spark, f"{table.rstrip('/')}/{LOG_DIR}")
    if not fs.exists(hpath):
        return []
    return [
        (st.getPath().getName(), st.getLen()) for st in fs.listStatus(hpath)
        if _is_record(st.getPath().getName())
    ]


def _is_record(name: str) -> bool:
    return name.startswith("v") and name[1:].isdigit()


def log_versions(spark: SparkSession, table: str) -> list[int]:
    """Published versions of a table, ascending (retired records — emptied
    by VACUUM — excluded; [] when the table has no log)."""
    return sorted(int(n[1:]) for n, size in _record_sizes(spark, table) if size > 0)


# the latest version this process last saw per table
_SEEN: dict[str, int] = {}


def latest_version(spark: SparkSession, table: str) -> int:
    """The table's latest version (0 without a log). Record names are
    never freed and a commit only publishes right after the latest it
    read, so versions are contiguous from 1: the latest is found by
    probing v{n+1}, v{n+2}, ... from any existing name. The probe starts
    at the version this process last saw, so it costs the commits since
    then, not the log's history; only the first look at a table (or one
    whose last-seen name is gone — the table was recreated) lists the
    log. VACUUM keeps the latest record, so it is never retired."""
    table = table.rstrip("/")
    fs, _, jvm = _hadoop_fs(spark, table)
    P = jvm.org.apache.hadoop.fs.Path
    n = _SEEN.get(table, 0)
    if n == 0 or not fs.exists(P(_record_path(table, n))):
        n = max((int(name[1:]) for name, _ in _record_sizes(spark, table)), default=0)
    while fs.exists(P(_record_path(table, n + 1))):
        n += 1
    _SEEN[table] = n
    return n


def read_record(spark: SparkSession, table: str, version: int | None = None):
    """The record of ``version`` (default: the latest), or None when the
    table has no such published version."""
    if version is None:
        version = latest_version(spark, table)
        if version == 0:
            return None
    text = _read_text(spark, _record_path(table, version))
    return json.loads(text) if text else None


def retire_record(spark: SparkSession, table: str, version: int) -> None:
    """Empty a record in place (VACUUM): the version stops being readable,
    but its name stays taken, so no writer can publish it again."""
    fs, hpath, _ = _hadoop_fs(spark, _record_path(table, version))
    fs.create(hpath, True).close()


def _writer() -> str:
    return f"{socket.gethostname()}:{os.getpid()}:{threading.current_thread().name}"


def _overlaps(a, b) -> bool:
    """Do two read-bucket sets intersect? None is the whole table."""
    return a is None or b is None or bool(set(a) & set(b))


def commit(
    spark: SparkSession,
    table: str,
    base: dict | None,
    operation: str,
    added: list[dict],
    removed: set[str],
    read_buckets: list[int] | None,
    schema: dict,
    layout: dict,
    started: float,
) -> dict:
    """Publish one version: ``base``'s live files minus the ``removed``
    paths plus ``added``. ``base`` is the record this commit read (None
    for a new table); ``read_buckets`` the buckets it read (None: the
    whole table — a flat table is one bucket, so two flat writers always
    conflict). When the put loses, every record that landed since
    ``base`` is checked: one that touched a read bucket, or changed the
    schema or layout, raises ``ConcurrentUpsertError``; otherwise the
    same files are republished at the next version. Returns the
    published record."""
    table = table.rstrip("/")
    head = base
    while True:
        version = (head["version"] if head else 0) + 1
        live = [f for f in (head["files"] if head else []) if f["path"] not in removed]
        gone = [f for f in (base["files"] if base else []) if f["path"] in removed]
        record = {
            "version": version,
            "operation": operation,
            "schema": schema,
            "layout": layout,
            "files": live + added,
            "read_version": base["version"] if base else 0,
            "buckets": read_buckets,
            "files_added": len(added),
            "bytes_added": sum(f["bytes"] for f in added),
            "files_removed": len(gone),
            "bytes_removed": sum(f["bytes"] for f in gone),
            "writer": _writer(),
            "duration_s": round(time.perf_counter() - started, 3),
        }
        if _put_if_absent(spark, _record_path(table, version), json.dumps(record)):
            _SEEN[table] = version
            return record
        head = check_conflicts(spark, table, base, read_buckets, operation)


def check_conflicts(
    spark: SparkSession,
    table: str,
    base: dict | None,
    read_buckets: list[int] | None,
    operation: str,
) -> dict:
    """Check every record published after ``base`` (the record a commit
    read): one that touched a bucket in ``read_buckets`` (None: the whole
    table), changed the schema or layout, or was retired raises
    ``ConcurrentUpsertError``. Returns the latest record (None when the
    table has none)."""
    table = table.rstrip("/")
    first = (base["version"] if base else 0) + 1
    head, version = base, first
    while (text := _read_text(spark, _record_path(table, version))) is not None:
        other = json.loads(text) if text else None
        if (
            base is None
            or other is None
            or _overlaps(other["buckets"], read_buckets)
            or other["schema"] != base["schema"]
            or other["layout"] != base["layout"]
        ):
            raise ConcurrentUpsertError(
                f"{operation}: lost the commit race for version {first} of "
                f"{table} to a concurrent "
                f"{other['operation'] if other else 'commit'} that touched "
                "buckets this commit read "
                f"({'all' if read_buckets is None else read_buckets}) — "
                "publishing would lose its rows; nothing was published. "
                "Retry the operation."
            )
        head, version = other, version + 1
    return head


def place_files(
    spark: SparkSession, table: str, written: str, version: int, move: bool
) -> list[dict]:
    """Describe the parquet files a finished Spark write left under
    ``written`` as log entries {path (relative to the table), bucket, rows,
    bytes}. With ``move`` each file is renamed into the table itself
    (``<table>/[_bucket=b/]v{version}-<name>``; Spark's part names carry
    the write job's uuid, so no other commit can produce the same name)
    and the write directory is removed. Row counts come from the parquet
    footers, read driver-side."""
    fs, hwritten, jvm = _hadoop_fs(spark, written)
    P = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    table = table.rstrip("/")
    root = hwritten.toUri().getPath().rstrip("/")
    prefix = fs.makeQualified(P(table)).toUri().getPath().rstrip("/")
    out = []
    it = fs.listFiles(hwritten, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().endswith(".parquet"):
            continue
        sub = p.getParent().toUri().getPath().rstrip("/")[len(root):].strip("/")
        if any(d.startswith(".") or (d.startswith("_") and "=" not in d) for d in sub.split("/") if d):
            continue  # staging and metadata dirs hold no table data
        bucket = int(sub.split("=", 1)[1]) if sub.startswith(BUCKET_COL + "=") else None
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            rows = int(reader.getRecordCount())
        finally:
            reader.close()
        if move:
            rel = (f"{sub}/" if sub else "") + f"v{version}-{p.getName()}"
            dest = P(f"{table}/{rel}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(p, dest):
                raise RuntimeError(f"could not move {p} into {table}")
        else:
            rel = p.toUri().getPath()[len(prefix):].lstrip("/")
        out.append({"path": rel, "bucket": bucket, "rows": rows, "bytes": int(st.getLen())})
    if move:
        fs.delete(hwritten, True)
    return out


def delete_files(spark: SparkSession, table: str, paths) -> None:
    """Delete data files (and emptied bucket directories) under a table:
    the files a commit replaced, once it has published, or a losing
    commit's own files."""
    fs, _, jvm = _hadoop_fs(spark, table)
    P = jvm.org.apache.hadoop.fs.Path
    for rel in paths:
        fs.delete(P(f"{table.rstrip('/')}/{rel}"), True)


def table_schema(df) -> dict:
    """The schema a log record stores: the frame's columns minus the
    bucket column, all nullable (parquet reads every column back
    nullable, so commits of the same data never disagree on it)."""
    return StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema if f.name != BUCKET_COL]
    ).jsonValue()


def read_files(spark: SparkSession, table: str, record: dict, buckets=None):
    """The record's live files (only ``buckets``' when given) as a
    DataFrame with the record's schema: no schema inference, no listing
    of the table root."""
    schema = StructType.fromJson(record["schema"])
    paths = [
        f"{table.rstrip('/')}/{f['path']}" for f in record["files"]
        if buckets is None or f["bucket"] in buckets
    ]
    if not paths:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    return spark.read.schema(schema).parquet(*paths)
