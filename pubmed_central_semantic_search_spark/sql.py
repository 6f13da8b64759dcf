"""SQL-facing surface: temp views + SQL scalar UDFs (Spark 4 `CREATE
TEMPORARY FUNCTION ... RETURN <expr>`).

The reference exposes its capabilities only through Python calls
(`QdrantDatabase.query`, `app.py`); a Spark engine can additionally hand
users a pure-SQL entry point. Every function below is a SQL *expression*
UDF — parsed into Catalyst and codegen'd exactly like the DataFrame
helpers in ``functions/`` (NO Python round-trip, NO slow path) — so
`spark.sql()` users get the same plans the DataFrame API builds.

Example end-to-end (after ``register_sql_surface(spark, sf_dir)``)::

    SELECT vec_id, round(cos_sim(embedding_d(embedding), q), 6) AS score
    FROM embeddings, (SELECT array(...) AS q)
    ORDER BY score DESC LIMIT 5
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .registry import TABLES, load

# name -> (signature, body). Bodies are pure Catalyst expressions — the
# SQL twins of functions/vector.py and functions/text.py.
SQL_FUNCTIONS: dict[str, tuple[str, str]] = {
    "vec_dot": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, x) -> s + x)",
    ),
    "vec_norm": (
        "(a ARRAY<DOUBLE>) RETURNS DOUBLE",
        "sqrt(aggregate(a, 0D, (s, x) -> s + x * x))",
    ),
    "cos_sim": (
        "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE",
        # zero-norm guard, mirroring the DataFrame twin cosine_similarity:
        # a degenerate vector scores 0.0 — the bare division raised
        # DIVIDE_BY_ZERO under Spark 4's default ANSI mode, so ONE empty
        # document killed any pure-SQL search query (review find;
        # hashed_features legitimately emits zero vectors for empty text)
        "CASE WHEN vec_norm(a) * vec_norm(b) > 0D "
        "THEN vec_dot(a, b) / (vec_norm(a) * vec_norm(b)) ELSE 0D END",
    ),
    "embedding_d": (
        "(a ARRAY<FLOAT>) RETURNS ARRAY<DOUBLE>",
        "transform(a, x -> CAST(x AS DOUBLE))",
    ),
    "token_count": (
        "(t STRING) RETURNS INT",
        "size(filter(split(t, ' '), x -> x != ''))",
    ),
    "doc_key": (
        "(s STRING) RETURNS BIGINT",
        "xxhash64(s)",
    ),
    "h32": (
        "(s STRING, seed INT) RETURNS BIGINT",
        "CAST(conv(substring(md5(concat(s, '#', CAST(seed AS STRING))), 1, 8), 16, 10) AS BIGINT)",
    ),
    "pmc_link": (
        "(article_id STRING) RETURNS STRING",
        "concat('https://pmc.ncbi.nlm.nih.gov/articles/', article_id, '/')",
    ),
    # integer log-histogram quantile-sketch primitives — SQL twins of
    # operators/sketch.py ihist_bucket/ihist_rep (same guards: negative
    # input and beyond-int64 bucket raise; null passes through)
    "ihist_bucket": (
        "(n BIGINT) RETURNS INT",
        "CASE WHEN n IS NULL THEN CAST(NULL AS INT) "
        "WHEN n < 0 THEN CAST(raise_error('ihist_bucket: negative input') AS INT) "
        "WHEN n < 16 THEN CAST(n AS INT) "
        "ELSE CAST(16 + (length(bin(n)) - 1 - 4) * 8 "
        "+ shiftright(n, length(bin(n)) - 1 - 3) - 8 AS INT) END",
    ),
    "ihist_rep": (
        "(b INT) RETURNS BIGINT",
        "CASE WHEN b IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN b > 487 THEN CAST(raise_error('ihist_rep: bucket beyond the "
        "non-negative int64 range') AS BIGINT) "
        "WHEN b < 16 THEN CAST(b AS BIGINT) "
        "ELSE shiftleft(CAST(8 + (b - 16) % 8 AS BIGINT), "
        "CAST((b - 16) DIV 8 + 1 AS INT)) END",
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotently (re)create the SQL expression UDFs."""
    for name, (sig, body) in SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURN {body}")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """One temp view per test-data table (parquet-backed, lazily scanned —
    filters/projections still push down to the files; ``load`` normalizes
    the events table's timestamp encoding whichever way it shipped)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def register_sql_surface(spark: SparkSession, sf_dir: str) -> None:
    register_views(spark, sf_dir)
    register_sql_functions(spark)


# --- pure-SQL write-path surface (round-8 stretch) -------------------------
#
# S7/S8 for SQL-only users: Spark has no UPSERT/SNAPSHOT DDL, so the
# catalog's write path is exposed as a documented CALL-pattern — one
# statement string, parsed by a deliberately tiny grammar, with every
# SELECT body executed through ``spark.sql`` (full Catalyst, same plans
# as the DataFrame API). The grammar is five commands, nothing more —
# this is a thin veneer over sources/catalog.py, not a SQL dialect:
#
#   UPSERT INTO '<path>' KEY (k1[, k2...]) [REPLACE GROUP g]
#       [BUCKETS n] AS <select>
#   UPSERT READ '<path>' [LOOKUP (k1 = lit1[, k2 = lit2...])] AS VIEW v
#   SNAPSHOT WRITE '<dir>' [MODE append|overwrite] AS <select>
#   SNAPSHOT READ '<dir>' [VERSION n] AS VIEW v
#   SNAPSHOT DIFF '<dir>' FROM v1 TO v2 KEY (k1[, k2...]) AS VIEW v
#   COMPACT '<path>' [LEAVES] [TARGET <bytes>]      (round-8: housekeeping)
#   VACUUM SNAPSHOTS '<dir>' KEEP <n>
#   REBUCKET '<path>' BUCKETS <n>                   (round-10: lifecycle)
#
# Write commands return what their Python twins return (upsert: None;
# snapshot write: the committed version). Read commands register a temp
# view (so follow-up statements are plain SQL) AND return its DataFrame.
# LOOKUP values parse as Python literals (ints/floats/quoted strings) and
# go through read_upsert_table's key_equals — a lookup covering the
# stored bucket key reads only the key's bucket files, exactly like the
# Python path (pinned by inputFiles in tests/test_sql_surface.py).

import ast as _ast
import re as _re


def _parse_keys(s: str) -> list[str]:
    return [c.strip() for c in s.split(",") if c.strip()]


def _split_terms(s: str) -> list[str]:
    """Split on commas NOT inside brackets/quotes — LOOKUP (k = [1, 2])
    is a batch lookup and its list literal contains commas (round-8
    self-review: the naive split broke the term apart)."""
    out, depth, quote, start = [], 0, None, 0
    skip = False
    for i, ch in enumerate(s):
        if skip:  # char escaped by a backslash inside a quoted literal
            skip = False
            continue
        if quote:
            if ch == "\\":
                # round-9 review pass: without this, an escaped quote
                # ('it\'s') closed the string early and a later comma
                # split the term apart
                skip = True
            elif ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [t for t in out if t.strip()]


def _parse_lookup(s: str) -> dict:
    out = {}
    for part in _split_terms(s):
        col, _, lit = part.partition("=")
        if not _.strip() and not lit:
            raise ValueError(f"catalog_sql: bad LOOKUP term {part!r}")
        try:
            out[col.strip()] = _ast.literal_eval(lit.strip())
        except (ValueError, SyntaxError) as e:
            # round-11 review pass: a malformed literal surfaced as a
            # bare SyntaxError with no pointer at the offending term —
            # name the term and the accepted forms instead
            raise ValueError(
                f"catalog_sql: LOOKUP value {lit.strip()!r} for column "
                f"{col.strip()!r} is not a Python literal (accepted: "
                "ints, floats, quoted strings, and tuples/lists of "
                "those for batch lookups)"
            ) from e
    return out


def catalog_sql(spark: SparkSession, statement: str):
    """Execute one write-path catalog statement (grammar above)."""
    from .sources.catalog import (
        read_upsert_table,
        snapshot_diff,
        snapshot_read,
        snapshot_write,
        upsert_parquet,
    )

    stmt = statement.strip().rstrip(";")
    m = _re.match(
        r"(?is)^UPSERT\s+INTO\s+'([^']+)'\s+KEY\s*\(([^)]+)\)"
        r"(?:\s+REPLACE\s+GROUP\s+(\w+))?(?:\s+BUCKETS\s+(\d+))?\s+AS\s+(.+)$",
        stmt,
    )
    if m:
        path, keys, grp, buckets, select = m.groups()
        upsert_parquet(
            spark,
            spark.sql(select),
            path,
            key_cols=_parse_keys(keys),
            replace_group_col=grp,
            n_buckets=int(buckets) if buckets else None,
        )
        return None
    m = _re.match(
        # LOOKUP body is GREEDY up to the last ')' before AS VIEW
        # (round-9 review pass: [^)]+ truncated at the FIRST ')', so a
        # parenthesized value — LOOKUP (k = (1, 2)) — reached
        # literal_eval as 'k = (1, 2' and failed with an opaque
        # SyntaxError instead of parsing)
        r"(?is)^UPSERT\s+READ\s+'([^']+)'"
        r"(?:\s+LOOKUP\s*\((.+)\))?\s+AS\s+VIEW\s+(\w+)$",
        stmt,
    )
    if m:
        path, lookup, view = m.groups()
        df = read_upsert_table(
            spark, path, key_equals=_parse_lookup(lookup) if lookup else None
        )
        df.createOrReplaceTempView(view)
        return df
    m = _re.match(
        r"(?is)^SNAPSHOT\s+WRITE\s+'([^']+)'"
        r"(?:\s+MODE\s+(append|overwrite))?\s+AS\s+(.+)$",
        stmt,
    )
    if m:
        path, mode, select = m.groups()
        return snapshot_write(
            spark, spark.sql(select), path, mode=(mode or "append").lower()
        )
    m = _re.match(
        r"(?is)^SNAPSHOT\s+READ\s+'([^']+)'"
        r"(?:\s+VERSION\s+(\d+))?\s+AS\s+VIEW\s+(\w+)$",
        stmt,
    )
    if m:
        path, version, view = m.groups()
        df = snapshot_read(
            spark, path, version=int(version) if version else None
        )
        df.createOrReplaceTempView(view)
        return df
    m = _re.match(
        r"(?is)^SNAPSHOT\s+DIFF\s+'([^']+)'\s+FROM\s+(\d+)\s+TO\s+(\d+)"
        r"\s+KEY\s*\(([^)]+)\)\s+AS\s+VIEW\s+(\w+)$",
        stmt,
    )
    if m:
        path, v1, v2, keys, view = m.groups()
        df = snapshot_diff(
            spark, path, int(v1), int(v2), key_cols=_parse_keys(keys)
        )
        df.createOrReplaceTempView(view)
        return df
    m = _re.match(
        r"(?is)^COMPACT\s+'([^']+)'(\s+LEAVES)?(?:\s+TARGET\s+(\d+))?$",
        stmt,
    )
    if m:
        from .sources.catalog import (
            compact_parquet,
            compact_partitioned_leaves,
        )

        path, leaves, target = m.groups()
        kwargs = (
            {"target_file_bytes": int(target)} if target else {}
        )
        if leaves:
            return compact_partitioned_leaves(spark, path, **kwargs)
        return compact_parquet(spark, path, **kwargs)
    m = _re.match(
        r"(?is)^VACUUM\s+SNAPSHOTS\s+'([^']+)'\s+KEEP\s+(\d+)$", stmt
    )
    if m:
        from .sources.catalog import snapshot_vacuum

        path, keep = m.groups()
        return snapshot_vacuum(spark, path, keep_last=int(keep))
    m = _re.match(r"(?is)^REBUCKET\s+'([^']+)'\s+BUCKETS\s+(\d+)$", stmt)
    if m:
        from .sources.catalog import rebucket

        path, n = m.groups()
        return rebucket(spark, path, int(n))
    raise ValueError(
        "catalog_sql: unrecognized statement — supported forms: UPSERT INTO, "
        "UPSERT READ, SNAPSHOT WRITE, SNAPSHOT READ, SNAPSHOT DIFF, "
        f"COMPACT, VACUUM SNAPSHOTS, REBUCKET (got: {stmt[:80]!r})"
    )
