"""Bucket-partitioned keyed upsert (catalog.upsert_parquet(n_buckets=...))
— the 100 TB S7 shape: merge cost is batch-sized, untouched buckets are
never read or rewritten — and the commit log every write publishes to.

Reference semantics being preserved: the content-keyed idempotent
overwrite of qdrant.py:137-139,149-175 — same merge law as the flat
upsert_parquet, different physical layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pubmed_central_semantic_search_spark.sources.catalog import (
    BUCKET_COL,
    read_record,
    read_upsert_table,
    upsert_parquet,
)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "article_id string, payload string")


def _table_state(spark, path):
    return {
        r.article_id: r.payload for r in read_upsert_table(spark, path).collect()
    }


def _file_snapshot(path):
    """(relpath -> (size, mtime_ns)) for every parquet data file, grouped
    by partition directory."""
    snap = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            snap[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return snap


def _scanned(df, path):
    """Table-relative paths of the files a frame's scan reads."""
    root = path.rstrip("/") + "/"
    return {f.split(root, 1)[1] for f in df.inputFiles()}


def _live_files(spark, path, buckets=None):
    """Table-relative paths of the latest version's live files (only the
    given buckets' when set)."""
    return {
        f["path"] for f in read_record(spark, path)["files"]
        if buckets is None or f["bucket"] in buckets
    }


def _bucket_of(spark, value, n):
    # a foldable projection over VALUES: Spark evaluates it on the driver,
    # so the per-key lookups the concurrency tests make launch no job
    return spark.sql("VALUES (1)").select(
        F.pmod(F.xxhash64(F.lit(value).cast("string")), F.lit(n))
    ).collect()[0][0]


def test_partitioned_matches_flat_merge(spark, tmp_path):
    """Same inputs through the flat and the partitioned variant produce
    the same logical table (the layout is a physical knob only)."""
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    v1 = _rows(spark, [(f"PMC{i}", f"v1-{i}") for i in range(20)])
    v2 = _rows(spark, [(f"PMC{i}", f"v2-{i}") for i in range(5, 12)] + [("PMCnew", "n")])
    upsert_parquet(spark, v1, flat, key_cols=["article_id"])
    upsert_parquet(spark, v2, flat, key_cols=["article_id"])
    upsert_parquet(spark, v1, part, key_cols=["article_id"], n_buckets=8)
    upsert_parquet(spark, v2, part, key_cols=["article_id"], n_buckets=8)
    assert _table_state(spark, flat) == _table_state(spark, part)
    # layout really is hive-partitioned on the bucket column
    assert any(
        d.startswith(f"{BUCKET_COL}=") for d in os.listdir(part)
    ), os.listdir(part)
    # and the reader facade hides it
    assert BUCKET_COL not in read_upsert_table(spark, part).columns


def test_untouched_partitions_are_byte_identical(spark, tmp_path):
    """The verdict's acceptance test: an upsert touching one bucket leaves
    every other partition's files untouched (same paths, sizes, mtimes) —
    proof the rewrite is batch-sized, not table-sized."""
    path = str(tmp_path / "t")
    n = 8
    base = _rows(spark, [(f"PMC{i}", f"v1-{i}") for i in range(64)])
    upsert_parquet(spark, base, path, key_cols=["article_id"], n_buckets=n)
    before = _file_snapshot(path)
    target_bucket = _bucket_of(spark, "PMC3", n)
    upsert_parquet(
        spark,
        _rows(spark, [("PMC3", "v2-3")]),
        path,
        key_cols=["article_id"],
        n_buckets=n,
    )
    after = _file_snapshot(path)
    touched_dir = f"{BUCKET_COL}={target_bucket}"
    before_untouched = {k: v for k, v in before.items() if touched_dir not in k}
    after_untouched = {k: v for k, v in after.items() if touched_dir not in k}
    assert before_untouched == after_untouched  # paths + sizes + mtimes
    # the touched partition DID change
    assert {k: v for k, v in before.items() if touched_dir in k} != {
        k: v for k, v in after.items() if touched_dir in k
    }
    # and the merge itself is correct
    state = _table_state(spark, path)
    assert state["PMC3"] == "v2-3" and state["PMC10"] == "v1-10"
    assert len(state) == 64


def test_existing_side_read_is_partition_pruned(spark, tmp_path):
    """The existing-side read takes only the touched buckets' files from
    the log record, so the scan reads exactly those buckets' live files
    (inputFiles) — pinned on the same read call upsert_parquet makes."""
    from pubmed_central_semantic_search_spark.sources.catalog import read_files

    path = str(tmp_path / "t")
    upsert_parquet(
        spark,
        _rows(spark, [(f"PMC{i}", "x") for i in range(64)]),
        path,
        key_cols=["article_id"],
        n_buckets=8,
    )
    pruned = read_files(spark, path, read_record(spark, path), [0, 1])
    want = _live_files(spark, path, [0, 1])
    assert want and _scanned(pruned, path) == want
    assert len(want) < len(_live_files(spark, path))  # strictly fewer files


def test_partitioned_group_replace_deletes_absent_members(spark, tmp_path):
    """Group-replace on the partitioned layout: re-uploading a SHORTENED
    article removes its dropped chunks (buckets keyed on the group column
    so the whole group lives in one partition)."""
    path = str(tmp_path / "chunks")
    schema = "chunk_id string, article_id string, paragraph string"
    v1 = spark.createDataFrame(
        [("c1", "PMC1", "p0"), ("c2", "PMC1", "p1"), ("c3", "PMC2", "q0")],
        schema,
    )
    upsert_parquet(
        spark, v1, path, key_cols=["chunk_id"],
        replace_group_col="article_id", n_buckets=4,
    )
    shortened = spark.createDataFrame([("c1", "PMC1", "p0-new")], schema)
    upsert_parquet(
        spark, shortened, path, key_cols=["chunk_id"],
        replace_group_col="article_id", n_buckets=4,
    )
    got = {
        r.chunk_id: r.paragraph for r in read_upsert_table(spark, path).collect()
    }
    assert got == {"c1": "p0-new", "c3": "q0"}  # c2 deleted, PMC2 untouched


def test_partitioned_replay_is_idempotent(spark, tmp_path):
    """foreachBatch at-least-once: double-applying the same batch leaves
    the table identical (exactly-once RESULTS via the merge law)."""
    path = str(tmp_path / "t")
    base = _rows(spark, [(f"PMC{i}", "v1") for i in range(16)])
    upsert_parquet(spark, base, path, key_cols=["article_id"], n_buckets=4)
    batch = _rows(spark, [("PMC1", "v2"), ("PMCx", "new")])
    upsert_parquet(spark, batch, path, key_cols=["article_id"], n_buckets=4)
    state1 = _table_state(spark, path)
    upsert_parquet(spark, batch, path, key_cols=["article_id"], n_buckets=4)
    assert _table_state(spark, path) == state1


def test_partitioned_version_col_breaks_in_batch_ties(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("k1", "old", 1), ("k1", "new", 2)],
        "article_id string, payload string, ver int",
    )
    upsert_parquet(
        spark, df, path, key_cols=["article_id"], version_col="ver", n_buckets=4
    )
    # merge against existing also honors version ordering
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [("k1", "newest", 3)], "article_id string, payload string, ver int"
        ),
        path,
        key_cols=["article_id"],
        version_col="ver",
        n_buckets=4,
    )
    assert _table_state(spark, path) == {"k1": "newest"}


def test_stream_upsert_partitioned_drain_equals_flat(spark, tmp_path):
    """X6: the partitioned streaming sink drains to the same logical table
    as the flat batch upsert over the same records."""
    from pubmed_central_semantic_search_spark.streaming.ingest import (
        start_stream_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    recs = [(f"k{i}", f"v{i}", 1) for i in range(12)]
    df = spark.createDataFrame(recs, "k string, payload string, ver int")
    df.coalesce(1).write.json(str(src / "batch1"))
    stream = (
        spark.readStream.schema("k string, payload string, ver int")
        .option("recursiveFileLookup", "true")
        .json(str(src))
    )
    table = str(tmp_path / "streamed")
    q = start_stream_upsert(
        stream, table, str(tmp_path / "ck"), ["k"], version_col="ver",
        partition_buckets=4,
    )
    q.awaitTermination()
    flat = str(tmp_path / "flat")
    upsert_parquet(spark, df, flat, key_cols=["k"], version_col="ver")
    assert {
        (r.k, r.payload) for r in read_upsert_table(spark, table).collect()
    } == {(r.k, r.payload) for r in spark.read.parquet(flat).collect()}


def test_start_ingest_partitioned_matches_flat(spark, tmp_path):
    """End-to-end: the article ingest stream with partition_buckets set
    produces the same chunks + doc_vectors tables as the flat layout."""
    import json

    from pubmed_central_semantic_search_spark.streaming.ingest import start_ingest

    src = tmp_path / "articles"
    src.mkdir()
    arts = [
        {
            "article_id": f"PMC{i}",
            "section_names": ["Abstract", "Body"],
            "sections": [[f"abs {i}"], [f"body {i} a", f"body {i} b"]],
        }
        for i in range(6)
    ]
    with open(src / "a.jsonl", "w") as f:
        for a in arts:
            f.write(json.dumps(a) + "\n")
    outs = {}
    for tag, buckets in (("flat", None), ("part", 4)):
        cp = str(tmp_path / f"chunks_{tag}")
        vp = str(tmp_path / f"vecs_{tag}")
        q = start_ingest(
            spark, str(src), cp, vp, str(tmp_path / f"ck_{tag}"),
            partition_buckets=buckets,
        )
        q.awaitTermination()
        outs[tag] = (
            {
                (r.chunk_id, r.paragraph)
                for r in read_upsert_table(spark, cp).collect()
            },
            {
                (r.article_id, tuple(round(x, 9) for x in r.embedding))
                for r in read_upsert_table(spark, vp).collect()
            },
        )
    assert outs["flat"] == outs["part"]
    assert any(
        d.startswith(f"{BUCKET_COL}=")
        for d in os.listdir(tmp_path / "chunks_part")
    )


def test_engine_partitioned_store_end_to_end(spark, tmp_path):
    """The facade with partition_buckets: upload, shortened re-upload,
    query — results identical to a flat-store engine."""
    from pubmed_central_semantic_search_spark.api import SemanticSearchEngine

    arts1 = spark.createDataFrame(
        [
            ("PMC1", ["Abstract", "Body"], [["thrombosis study"], ["deep vein", "results here"]]),
            ("PMC2", ["Abstract"], [["unrelated protein folding"]]),
        ],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    shortened = spark.createDataFrame(
        [("PMC1", ["Abstract"], [["thrombosis study"]])],
        "article_id string, section_names array<string>, sections array<array<string>>",
    )
    results = {}
    for tag, buckets in (("flat", None), ("part", 4)):
        eng = SemanticSearchEngine(
            spark, str(tmp_path / tag), encoder="fake", dim=16,
            partition_buckets=buckets,
        )
        eng.upload_articles(arts1)
        eng.upload_articles(shortened)
        chunks = read_upsert_table(spark, eng.chunks_path)
        assert chunks.filter(F.col("article_id") == "PMC1").count() == 1  # shortened
        out = eng.query("thrombosis", docs_per_query=2, paragraphs_per_document=1)
        results[tag] = {
            (r.query_text, r.article_id, round(r.doc_score, 9))
            for r in out.select("query_text", "article_id", "doc_score").collect()
        }
    assert results["flat"] == results["part"]


def test_reserved_bucket_column_is_rejected(spark, tmp_path):
    """An input frame already carrying the reserved _bucket column must
    fail loudly — withColumn would silently replace the caller's data."""
    import pytest as _pt

    df = spark.createDataFrame(
        [("k1", "v", 3)], f"article_id string, payload string, {BUCKET_COL} int"
    )
    with _pt.raises(ValueError, match="reserved"):
        upsert_parquet(
            spark, df, str(tmp_path / "t"), key_cols=["article_id"], n_buckets=4
        )


def test_stale_staging_dir_is_invisible_and_harmless(spark, tmp_path):
    """Crash-safety claim pinned: a dead job's .spark-staging-* dir (dot-
    prefixed) is invisible to readers and does not disturb the next
    upsert's merge."""
    path = str(tmp_path / "t")
    upsert_parquet(
        spark,
        _rows(spark, [(f"PMC{i}", "v1") for i in range(8)]),
        path, key_cols=["article_id"], n_buckets=4,
    )
    state_before = _table_state(spark, path)
    stale = os.path.join(path, ".spark-staging-deadjob", f"{BUCKET_COL}=0")
    os.makedirs(stale)
    # junk that would corrupt the table if readers descended into it
    with open(os.path.join(stale, "part-junk.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert _table_state(spark, path) == state_before  # reads ignore staging
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "v2")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    got = _table_state(spark, path)
    assert got["PMC1"] == "v2" and len(got) == 8


def test_reserved_merge_columns_are_rejected_both_layouts(spark, tmp_path):
    """_is_new/_rn are the merge window's working columns and get dropped
    from the output — a same-named data column would silently vanish."""
    import pytest as _pt

    df = spark.createDataFrame(
        [("k1", 1)], "article_id string, _is_new int"
    )
    for nb in (None, 4):
        with _pt.raises(ValueError, match="reserved"):
            upsert_parquet(
                spark, df, str(tmp_path / f"t{nb}"),
                key_cols=["article_id"], n_buckets=nb,
            )


def test_layout_is_self_describing_and_validated(spark, tmp_path):
    """The stored _layout record rejects a later upsert with different
    n_buckets or bucket key (which would hash keys into different
    directories — the merge would miss existing rows and silently
    duplicate), and rejects a FLAT upsert on a partitioned table."""
    import pytest as _pt

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "v1")]), path,
        key_cols=["article_id"], n_buckets=8,
    )
    with _pt.raises(ValueError, match="layout mismatch"):
        upsert_parquet(
            spark, _rows(spark, [("PMC1", "v2")]), path,
            key_cols=["article_id"], n_buckets=16,
        )
    with _pt.raises(ValueError, match="layout mismatch"):
        upsert_parquet(
            spark,
            spark.createDataFrame(
                [("PMC1", "g1", "v2")],
                "article_id string, grp string, payload string",
            ),
            path, key_cols=["article_id"], replace_group_col="grp", n_buckets=8,
        )
    with _pt.raises(ValueError, match="bucket-partitioned"):
        upsert_parquet(
            spark, _rows(spark, [("PMC1", "v2")]), path, key_cols=["article_id"]
        )
    # matching layout still merges
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "v2")]), path,
        key_cols=["article_id"], n_buckets=8,
    )
    assert _table_state(spark, path)["PMC1"] == "v2"


def test_pre_metadata_table_is_accepted_and_stamped(spark, tmp_path):
    from pubmed_central_semantic_search_spark.sources.catalog import bucket_expr

    path = str(tmp_path / "t")
    # a table written before the commit log: plain hive-partitioned files
    _rows(spark, [("PMC1", "v1")]).withColumn(
        BUCKET_COL, bucket_expr(["article_id"], 4)
    ).write.partitionBy(BUCKET_COL).parquet(path)
    assert not os.path.exists(os.path.join(path, "_log"))
    upsert_parquet(
        spark, _rows(spark, [("PMC2", "v1")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    assert os.path.isdir(os.path.join(path, "_log"))  # adopted
    assert len(_table_state(spark, path)) == 2
    # and from now on a mismatch is caught again
    import pytest as _pt

    with _pt.raises(ValueError, match="layout mismatch"):
        upsert_parquet(
            spark, _rows(spark, [("PMC3", "v1")]), path,
            key_cols=["article_id"], n_buckets=8,
        )



def test_latest_record_is_probed_and_old_records_retire(spark, tmp_path, monkeypatch):
    """The latest record is found by probing forward from the version
    this process last saw — no listing of the log once a table has been
    seen — and an upsert-table commit empties the record
    ``_KEEP_RECORDS`` versions back, so the log's bytes stay bounded. A
    table recreated with fewer versions than last seen still reads at
    its own latest."""
    import shutil

    from pubmed_central_semantic_search_spark.sources import catalog, fsio

    monkeypatch.setattr(catalog, "_KEEP_RECORDS", 2)
    path = str(tmp_path / "t")
    for i in range(5):
        upsert_parquet(
            spark, _rows(spark, [(f"PMC{i % 3}", f"v{i}")]), path,
            key_cols=["article_id"], n_buckets=4,
        )
    sizes = [os.path.getsize(os.path.join(path, "_log", f"v{v}")) for v in range(1, 6)]
    assert [s == 0 for s in sizes] == [True, True, True, False, False]
    assert catalog.read_record(spark, path)["version"] == 5

    listings = []
    real = fsio._record_sizes
    monkeypatch.setattr(fsio, "_record_sizes", lambda *a: listings.append(a) or real(*a))
    upsert_parquet(
        spark, _rows(spark, [("PMC0", "v5")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    assert catalog.read_record(spark, path)["version"] == 6
    assert _table_state(spark, path) == {"PMC0": "v5", "PMC1": "v4", "PMC2": "v2"}
    assert listings == []

    shutil.rmtree(path)
    upsert_parquet(
        spark, _rows(spark, [("PMC9", "new")]), path, key_cols=["article_id"]
    )
    assert catalog.read_record(spark, path)["version"] == 1
    assert _table_state(spark, path) == {"PMC9": "new"}

def test_point_lookup_read_prunes_to_one_bucket(spark, tmp_path):
    """read_upsert_table(key_equals=...) over the stored bucket key scans
    ONE bucket's live files (inputFiles) and still returns exactly
    the matching rows; literals are cast to the column type before
    hashing (an int-vs-long hash mismatch would prune to the WRONG
    bucket and return nothing)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, payload string"
    )
    upsert_parquet(spark, df, path, key_cols=["k"], n_buckets=8)
    out = read_upsert_table(spark, path, key_equals={"k": 7})  # int literal
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(7).cast("long")), F.lit(8))
    ).collect()[0][0]
    assert _scanned(out, path) == _live_files(spark, path, [b])
    rows = out.collect()
    assert [(r.k, r.payload) for r in rows] == [(7, "v7")]
    # strictly fewer files scanned than the whole table
    assert len(_scanned(out, path)) < len(_live_files(spark, path))
    # non-bucket-key filters still work (no pruning, just correctness)
    assert read_upsert_table(spark, path, key_equals={"payload": "v9"}).collect()[0].k == 9


def test_keyed_upsert_into_group_bucketed_table_small_batch(spark, tmp_path):
    """The fragility the layout record exposed: a KEYED upsert into a
    group-bucketed table must hash with the table's STORED bucket key —
    hashing by its own key_cols would land the new row in a different
    directory than the existing version, the touched-bucket merge would
    miss it, and the table would hold BOTH rows. Pre-guard this only
    worked when a batch happened to touch every bucket; a one-row batch
    is the failing case."""
    path = str(tmp_path / "t")
    schema = "doc_id long, grp long, payload string"
    base = spark.createDataFrame(
        [(i, i // 10, f"v1-{i}") for i in range(40)], schema
    )
    upsert_parquet(
        spark, base, path, key_cols=["doc_id"],
        replace_group_col="grp", n_buckets=8,
    )
    # one-row KEYED upsert (no group semantics) — must replace, not add
    one = spark.createDataFrame([(7, 0, "v2-7")], schema)
    upsert_parquet(spark, one, path, key_cols=["doc_id"], n_buckets=8)
    rows = read_upsert_table(spark, path).collect()
    assert len(rows) == 40  # no duplicate doc_id 7
    assert {r.payload for r in rows if r.doc_id == 7} == {"v2-7"}
    # and a batch missing the stored bucket key is rejected loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="bucket key"):
        upsert_parquet(
            spark,
            spark.createDataFrame([(8, "x")], "doc_id long, payload string"),
            path, key_cols=["doc_id"], n_buckets=8,
        )


def test_n_buckets_on_existing_flat_table_raises_without_stamping(spark, tmp_path):
    """Passing n_buckets against an existing FLAT table must raise by name
    and must NOT stamp a _layout record — a stray stamp would survive the
    failure and wedge the table (flat calls rejected by the partitioned
    guard, partitioned calls failing on the missing column)."""
    import pytest as _pt

    path = str(tmp_path / "t")
    upsert_parquet(spark, _rows(spark, [("PMC1", "v1")]), path, key_cols=["article_id"])
    with _pt.raises(ValueError, match="FLAT"):
        upsert_parquet(
            spark, _rows(spark, [("PMC2", "v1")]), path,
            key_cols=["article_id"], n_buckets=4,
        )
    assert not os.path.exists(os.path.join(path, "_layout"))
    # the flat table still works
    upsert_parquet(spark, _rows(spark, [("PMC2", "v1")]), path, key_cols=["article_id"])
    assert len(_table_state(spark, path)) == 2


def test_empty_first_batch_does_not_brick_partitioned_create(spark, tmp_path):
    """An empty partitioned write emits no schema-bearing file; creating
    from an empty first batch used to leave a directory every later read
    failed to infer. The create is skipped instead; the next non-empty
    batch creates normally."""
    path = str(tmp_path / "t")
    empty = _rows(spark, [("x", "y")]).filter(F.col("article_id") == "no-such")
    upsert_parquet(spark, empty, path, key_cols=["article_id"], n_buckets=4)
    assert not os.path.exists(path)  # table stays absent
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "v1")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    assert _table_state(spark, path) == {"PMC1": "v1"}
    # and an empty MERGE batch into the existing table is harmless
    upsert_parquet(spark, empty, path, key_cols=["article_id"], n_buckets=4)
    assert _table_state(spark, path) == {"PMC1": "v1"}


def test_flat_layout_merge_phases_match_partitioned(spark, tmp_path):
    """q62's flat-layout replay, demoted from the driver arm (round-5
    verdict #1: replaying BOTH layouts cost 10.4 s of registry bench for
    coverage the unit suite carries): the sharded-sink seed + the same
    three merge phases on the flat AND the bucket-partitioned layout must
    produce the same table — compared as a MULTISET (Counter of row
    tuples), so a duplicate-row divergence in either layout raises too
    (a set compare would hide same-content-different-multiplicity)."""
    from collections import Counter

    from pubmed_central_semantic_search_spark.queries.write_path import (
        _merge_phases,
    )
    from pubmed_central_semantic_search_spark.sources.jsonl import (
        write_sharded_parquet,
    )

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", "en", f"text-{i}") for i in range(200)],
        "doc_id long, source string, lang string, text string",
    )
    docs_grp = docs.withColumn("grp", (F.col("doc_id") / 10).cast("int"))
    batch1 = docs_grp.filter(F.col("doc_id") < 150)

    flat_path = str(tmp_path / "flat")
    write_sharded_parquet(batch1, flat_path, max_records_per_file=40)
    _merge_phases(spark, docs_grp, flat_path)

    part_path = str(tmp_path / "part")
    upsert_parquet(
        spark, batch1, part_path, key_cols=["doc_id"],
        replace_group_col="grp", n_buckets=8,
    )
    _merge_phases(spark, docs_grp, part_path, n_buckets=8)

    cols = ["doc_id", "source", "lang", "text", "grp"]

    def multiset(path):
        return Counter(
            tuple(r)
            for r in read_upsert_table(spark, path).select(*cols).collect()
        )

    flat_rows, part_rows = multiset(flat_path), multiset(part_path)
    assert flat_rows == part_rows
    # sanity on the merge semantics themselves: evens<50 ('-v3'), 50-199
    # uppercased, odds<50 deleted by the group replace
    assert sum(flat_rows.values()) == 175
    by_id = {t[0]: t for t in flat_rows}
    assert by_id[0][3] == "text-0-v3"
    assert by_id[60][3] == "TEXT-60"
    assert 1 not in by_id


def test_engine_partitioned_nonstring_article_id_pools_all_docs(spark, tmp_path):
    """Round-5 advice: the partition-pruned re-read used to hash
    article_id AFTER a .cast('string') while the write side hashed the
    chunks frame's NATIVE type — a non-string article_id (schema
    violation the flat path tolerates) pruned to the wrong bucket and
    doc vectors silently went missing. The read now casts the hash input
    to the TABLE column's own type: every uploaded article must get a
    doc vector."""
    from pubmed_central_semantic_search_spark.api import SemanticSearchEngine

    arts = spark.createDataFrame(
        [
            (101, ["Abstract"], [["thrombosis study"]]),
            (102, ["Abstract"], [["protein folding"]]),
            (103, ["Abstract"], [["graph joins"]]),
        ],
        "article_id long, section_names array<string>, sections array<array<string>>",
    )
    eng = SemanticSearchEngine(
        spark, str(tmp_path / "intid"), encoder="fake", dim=16,
        partition_buckets=4,
    )
    eng.upload_articles(arts)
    vecs = read_upsert_table(spark, eng.doc_vectors_path)
    assert vecs.count() == 3
    assert vecs.filter(F.col("embedding").isNull()).count() == 0


def test_concurrent_disjoint_bucket_upserts(spark, tmp_path):
    """The concurrency contract (round-5 verdict #5): two writers
    upserting DISJOINT bucket sets concurrently are safe — each reads
    only its own buckets' files and writes new files; whichever loses
    the publish race republishes its files at the next version. Both
    batches must land exactly; untouched buckets stay byte-identical;
    the layout survives."""
    import threading

    path = str(tmp_path / "t")
    n = 8
    keys = [f"PMC{i}" for i in range(200)]
    base = _rows(spark, [(k, "v1") for k in keys])
    upsert_parquet(spark, base, path, key_cols=["article_id"], n_buckets=n)

    # split keys into two DISJOINT bucket sets by their actual hash
    bucket_of = {k: _bucket_of(spark, k, n) for k in keys}
    set_a = {b for b in range(n) if b % 2 == 0}
    keys_a = [k for k in keys if bucket_of[k] in set_a][:20]
    keys_b = [k for k in keys if bucket_of[k] not in set_a][:20]
    assert keys_a and keys_b
    before = _file_snapshot(path)
    touched_dirs = {
        f"{BUCKET_COL}={bucket_of[k]}" for k in keys_a + keys_b
    }

    errs = []

    def work(batch_keys, tag):
        try:
            upsert_parquet(
                spark,
                _rows(spark, [(k, tag) for k in batch_keys]),
                path,
                key_cols=["article_id"],
                n_buckets=n,
            )
        except Exception as e:  # surface into the main thread
            errs.append(e)

    ta = threading.Thread(target=work, args=(keys_a, "A"))
    tb = threading.Thread(target=work, args=(keys_b, "B"))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs

    state = _table_state(spark, path)
    assert len(state) == 200
    assert all(state[k] == "A" for k in keys_a)
    assert all(state[k] == "B" for k in keys_b)
    assert all(
        state[k] == "v1" for k in keys if k not in set(keys_a) | set(keys_b)
    )
    # untouched partitions byte-identical even under concurrency
    after = _file_snapshot(path)
    before_un = {
        p: v for p, v in before.items()
        if not any(d in p for d in touched_dirs)
    }
    after_un = {
        p: v for p, v in after.items()
        if not any(d in p for d in touched_dirs)
    }
    assert before_un == after_un
    layout = read_record(spark, path)["layout"]
    assert int(layout["n_buckets"]) == n


def test_compact_partitioned_leaves(spark, tmp_path):
    """Leaf-level compaction of an upsert table: buckets that accreted
    files (here: an upsert written under a per-file row cap) are
    rewritten to one file each in ONE commit, single-file buckets stay
    untouched, the layout survives, and the table reads back identical."""
    import pytest as _pt

    from pubmed_central_semantic_search_spark.sources.catalog import (
        compact_parquet,
        compact_partitioned_leaves,
    )

    path = str(tmp_path / "t")
    upsert_parquet(
        spark,
        _rows(spark, [(f"PMC{i}", "v0") for i in range(40)]),
        path,
        key_cols=["article_id"],
        n_buckets=4,
    )
    # accrete: an upsert written under a small per-file row cap leaves
    # several files in every bucket it touches
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 3)
    try:
        upsert_parquet(
            spark, _rows(spark, [(f"NEW{i}", "a1") for i in range(24)]),
            path, key_cols=["article_id"], n_buckets=4,
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")

    before_state = _table_state(spark, path)
    before_files = len(_file_snapshot(path))
    stats = compact_partitioned_leaves(spark, path, max_files_per_leaf=1)
    assert stats["leaves_seen"] == 4
    assert stats["leaves_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"] == before_files
    # every leaf is now at one file
    per_leaf = {}
    for root, _dirs, files in os.walk(path):
        d = os.path.basename(root)
        if d.startswith(f"{BUCKET_COL}="):
            per_leaf[d] = sum(1 for f in files if f.endswith(".parquet"))
    assert per_leaf and all(n == 1 for n in per_leaf.values()), per_leaf
    # data + layout unchanged; upserts still work afterwards
    assert _table_state(spark, path) == before_state
    assert int(read_record(spark, path)["layout"]["n_buckets"]) == 4
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "post")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    assert _table_state(spark, path)["PMC1"] == "post"
    # steady state: a second compaction touches nothing
    stats2 = compact_partitioned_leaves(spark, path, max_files_per_leaf=1)
    assert stats2["leaves_compacted"] == 0
    # flat tables are rejected (use compact_parquet) — and vice versa
    flat = str(tmp_path / "flat")
    upsert_parquet(spark, _rows(spark, [("a", "b")]), flat, key_cols=["article_id"])
    with _pt.raises(ValueError, match="compact_parquet"):
        compact_partitioned_leaves(spark, flat)
    with _pt.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path)


def test_schema_evolution_both_layouts(spark, tmp_path):
    """allow_schema_evolution: a batch may ADD columns (existing rows
    read null) or OMIT non-key columns (the replaced key's new version
    carries null — the new row wins whole); without the opt-in a
    mismatched batch raises (a typo'd column must not silently fork the
    schema). Partitioned reads of evolved tables return the union schema —
    untouched buckets still hold pre-evolution files, whose rows read
    null in the new column."""
    import pytest as _pt

    v1 = _rows(spark, [(f"PMC{i}", "v1") for i in range(12)])
    v2 = spark.createDataFrame(
        [("PMC1", "v2", 0.9), ("PMCnew", "v2", 0.5)],
        "article_id string, payload string, quality double",
    )
    for tag, buckets in (("flat", None), ("part", 4)):
        path = str(tmp_path / tag)
        upsert_parquet(
            spark, v1, path, key_cols=["article_id"], n_buckets=buckets
        )
        # strict default: schema drift raises
        with _pt.raises(Exception, match="quality|UNION|column"):
            upsert_parquet(
                spark, v2, path, key_cols=["article_id"], n_buckets=buckets
            )
        upsert_parquet(
            spark, v2, path, key_cols=["article_id"], n_buckets=buckets,
            allow_schema_evolution=True,
        )
        got = read_upsert_table(spark, path)
        assert "quality" in got.columns
        rows = {r["article_id"]: r for r in got.collect()}
        assert len(rows) == 13
        assert rows["PMC1"]["payload"] == "v2" and rows["PMC1"]["quality"] == 0.9
        assert rows["PMCnew"]["quality"] == 0.5
        assert rows["PMC2"]["quality"] is None  # pre-evolution row
        # and a later batch OMITTING the new column still merges: the
        # replaced key's new version carries null there
        v3 = _rows(spark, [("PMC1", "v3")])
        upsert_parquet(
            spark, v3, path, key_cols=["article_id"], n_buckets=buckets,
            allow_schema_evolution=True,
        )
        rows3 = {
            r["article_id"]: r
            for r in read_upsert_table(spark, path).collect()
        }
        assert rows3["PMC1"]["payload"] == "v3"
        assert rows3["PMC1"]["quality"] is None
        assert rows3["PMCnew"]["quality"] == 0.5  # untouched key keeps it


def test_evolution_review_fixes(spark, tmp_path):
    """Round-6 code-review findings on schema evolution, all pinned:
    (1) a batch missing a key column raises a named error instead of
    being silently null-keyed under allowMissingColumns; (2) evolution
    is TABLE-STICKY — a later merge that forgets the flag still reads
    merged footers and cannot strip the evolved column; (3) a flat
    upsert into a _bucket-bearing table without a commit log raises
    instead of silently flattening the layout; (4) read_upsert_table
    returns the evolved (union) schema without being asked."""
    import pytest as _pt

    # (1) missing key column — named error, both layouts, evolved or not
    bad = spark.createDataFrame([("x",)], "payload string")
    for buckets in (None, 4):
        with _pt.raises(ValueError, match="required merge columns"):
            upsert_parquet(
                spark, bad, str(tmp_path / "k"), key_cols=["article_id"],
                n_buckets=buckets, allow_schema_evolution=True,
            )

    # (2)+(4) sticky evolution on the partitioned layout
    path = str(tmp_path / "sticky")
    v1 = _rows(spark, [(f"PMC{i}", "v1") for i in range(12)])
    upsert_parquet(spark, v1, path, key_cols=["article_id"], n_buckets=4)
    v2 = spark.createDataFrame(
        [("PMC1", "v2", 0.9)], "article_id string, payload string, quality double"
    )
    upsert_parquet(
        spark, v2, path, key_cols=["article_id"], n_buckets=4,
        allow_schema_evolution=True,
    )
    # a FORGETFUL strict merge of an old-schema batch must not strip
    # quality from the buckets it rewrites
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "v3")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    got = read_upsert_table(spark, path)
    assert "quality" in got.columns
    rows = {r["article_id"]: r for r in got.collect()}
    assert rows["PMC1"]["payload"] == "v3" and rows["PMC1"]["quality"] is None
    assert rows["PMC2"]["quality"] is None and len(rows) == 12

    # (3) pre-metadata partitioned table + flat evolved call — named error
    from pubmed_central_semantic_search_spark.sources.catalog import bucket_expr

    pm = str(tmp_path / "premeta")
    _rows(spark, [("a", "b")]).withColumn(
        BUCKET_COL, bucket_expr(["article_id"], 4)
    ).write.partitionBy(BUCKET_COL).parquet(pm)
    with _pt.raises(ValueError, match="bucket-partitioned"):
        upsert_parquet(
            spark, _rows(spark, [("a", "c")]), pm, key_cols=["article_id"],
            allow_schema_evolution=True,
        )


def test_batch_point_lookup_prunes_to_key_union(spark, tmp_path):
    """Round-7 batch lookup: key_equals with a LIST prunes the scan to
    the union of the keys' buckets' live files (inputFiles) and
    returns exactly those keys' rows — incl. absent keys returning
    nothing."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id AS k", "CAST(id * 3 AS STRING) AS v")
    upsert_parquet(spark, df, path, key_cols=["k"], n_buckets=16)
    keys = [5, 77, 900, 999999]
    got = read_upsert_table(spark, path, key_equals={"k": keys})
    from pubmed_central_semantic_search_spark.sources.catalog import bucket_expr

    probed = {
        spark.range(1).select(bucket_expr([F.lit(k).cast("bigint")], 16)).collect()[0][0]
        for k in keys
    }
    assert _scanned(got, path) == _live_files(spark, path, probed)
    rows = sorted((r["k"], r["v"]) for r in got.collect())
    assert rows == [(5, "15"), (77, "231"), (900, "2700")]
    # single-value form unchanged
    one = read_upsert_table(spark, path, key_equals={"k": 5}).collect()
    assert [(r["k"], r["v"]) for r in one] == [(5, "15")]


def test_superset_probe_prunes_group_bucketed_table(spark, tmp_path):
    """Round-8 ADVICE fix: a table bucketed on the GROUP column, probed
    with key_equals covering {group, key}, must prune on the group's
    bucket (the old condition demanded key_equals == bucket_cols exactly
    and silently FULL-SCANNED — q62's lookup arm was the false claim)."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    schema = "doc_id long, grp long, payload string"
    base = spark.createDataFrame(
        [(i, i // 10, f"v-{i}") for i in range(200)], schema
    )
    upsert_parquet(
        spark, base, path, key_cols=["doc_id"],
        replace_group_col="grp", n_buckets=8,
    )
    # the q62 probe shape: bucket col (grp) is a strict SUBSET of the probe
    out = read_upsert_table(
        spark, path, key_equals={"grp": 6, "doc_id": 63}
    )
    from pubmed_central_semantic_search_spark.sources.catalog import bucket_expr

    b = spark.range(1).select(bucket_expr([F.lit(6).cast("bigint")], 8)).collect()[0][0]
    assert _scanned(out, path) == _live_files(spark, path, [b]), (
        "superset probe did not prune on the stored bucket key"
    )
    assert [(r.doc_id, r.payload) for r in out.collect()] == [(63, "v-63")]
    # bare-doc_id probe cannot prune (doc_id is not the bucket key) but
    # stays a correct ordinary filter
    bare = read_upsert_table(spark, path, key_equals={"doc_id": 63})
    assert _scanned(bare, path) == _live_files(spark, path)
    assert [r.doc_id for r in bare.collect()] == [63]


def test_empty_list_probe_short_circuits(spark, tmp_path):
    """Round-8 (verdict what's-wrong #2): key_equals={k: []} used to
    leave the bucket predicate unset and pay a FULL list+scan to filter
    everything; it now folds to an empty relation before the scan."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    df = spark.range(500).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    upsert_parquet(spark, df, path, key_cols=["k"], n_buckets=8)
    out = read_upsert_table(spark, path, key_equals={"k": []})
    assert out.count() == 0
    assert out.columns == ["k", "v"]  # schema intact, bucket col hidden
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scan itself is folded away (PropagateEmptyRelation)
    assert "FileScan" not in plan, plan
    # flat tables short-circuit too
    flat = str(tmp_path / "flat")
    upsert_parquet(spark, df, flat, key_cols=["k"])
    out_flat = read_upsert_table(spark, flat, key_equals={"k": []})
    assert out_flat.count() == 0
    assert "FileScan" not in out_flat._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_lists_only_probed_bucket_dirs(spark, tmp_path):
    """Round-9 (verdict #2): the r8 measurement showed a pruned point
    lookup spends ~1.2 s LISTING all bucket directories (512 dirs for a
    1.26 MB read) — the data read was already pruned, the DISCOVERY was
    not. The reader folds the bucket id driver-side (zero Spark jobs)
    with the stored bucket_col_types and reads that bucket's files from
    the log record: inputFiles must name ONLY the probed buckets."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id AS k", "CAST(id * 3 AS STRING) AS v")
    upsert_parquet(spark, df, path, key_cols=["k"], n_buckets=16)

    got = read_upsert_table(spark, path, key_equals={"k": 5})
    files = got.inputFiles()
    assert files, "fast path read no files"
    assert len({f.split("_bucket=")[1].split("/")[0] for f in files}) == 1, files
    assert [(r["k"], r["v"]) for r in got.collect()] == [(5, "15")]

    # batch lookup: union of the probed keys' buckets only
    batch = read_upsert_table(spark, path, key_equals={"k": [5, 77, 900, 999999]})
    bdirs = {f.split("_bucket=")[1].split("/")[0] for f in batch.inputFiles()}
    assert 1 <= len(bdirs) <= 3, bdirs
    assert sorted((r["k"], r["v"]) for r in batch.collect()) == [
        (5, "15"), (77, "231"), (900, "2700")
    ]

    # absent key: a correct empty
    assert read_upsert_table(spark, path, key_equals={"k": 10**12}).count() == 0

    # non-bucket extra filter rides along (superset probe)
    sup = read_upsert_table(spark, path, key_equals={"k": 5, "v": "15"})
    assert [(r["k"], r["v"]) for r in sup.collect()] == [(5, "15")]


def test_fold_bucket_ids_matches_cluster_eval_and_launches_no_job(spark):
    """The driver-side fold must agree with what Spark computes on the
    cluster for every bucket-key type the engine stamps, and must not
    schedule a single task (the VALUES->LocalRelation short-circuit)."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.sources.catalog import (
        _fold_bucket_ids,
        bucket_expr,
    )

    cases = [
        (12345, "bigint"),
        (-7, "bigint"),
        ("md5-like-string-key", "string"),
        (3.5, "double"),
        (42, "int"),
    ]
    sc = spark.sparkContext
    spark.range(1).collect()
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    folded = _fold_bucket_ids(spark, [[c] for c in cases], 64)
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before, "fold scheduled a Spark job"
    expect = [
        spark.range(1)
        .select(bucket_expr([F.lit(v).cast(t)], 64).alias("b"))
        .collect()[0][0]
        for v, t in cases
    ]
    assert folded == expect
    # composite key folds too
    multi = _fold_bucket_ids(spark, [[(1, "bigint"), ("a", "string")]], 32)
    exp = spark.range(1).select(
        bucket_expr([F.lit(1).cast("bigint"), F.lit("a").cast("string")], 32)
        .alias("b")
    ).collect()[0][0]
    assert multi == [exp]


def test_upsert_null_key_value_raises_by_name(spark, tmp_path):
    """Round-9 review pass: the missing-COLUMN guard had a null-VALUE
    twin — every null-key row lands in ONE merge-window group, so a
    flaky upstream emitting null ids had its whole null slice silently
    collapsed to a single arbitrary row. Now raises at execution."""
    import pytest

    from pubmed_central_semantic_search_spark.sources.catalog import (
        upsert_parquet,
    )

    bad = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k long, v string"
    )
    with pytest.raises(Exception, match="NULL in key column 'k'"):
        upsert_parquet(spark, bad, str(tmp_path / "flat"), key_cols=["k"])
    with pytest.raises(Exception, match="NULL in key column"):
        # separate path: the partitioned create stamps its layout BEFORE
        # the data write, so the execution-time raise leaves a stamped
        # (data-less) table behind — by design (crash-retry re-uses it)
        upsert_parquet(
            spark, bad, str(tmp_path / "part"), key_cols=["k"], n_buckets=4
        )
    good = bad.filter("k IS NOT NULL")
    path = str(tmp_path / "ok")
    upsert_parquet(spark, good, path, key_cols=["k"])
    assert spark.read.parquet(path).count() == 1


# --- overlapping writers + rebucket lifecycle --------------------------------


def test_overlapping_bucket_writers_serialize_or_raise(spark, tmp_path):
    """The overlapping-writer contract (round-10 verdict #2): two writers
    merging the SAME bucket must never silently last-writer-win — the
    loser raises ConcurrentUpsertError BY NAME while the winner's rows
    land; a retry after the winner commits converges with NO lost rows."""
    import threading
    import time

    from pubmed_central_semantic_search_spark.sources import catalog
    from pubmed_central_semantic_search_spark.sources.catalog import (
        ConcurrentUpsertError,
    )

    path = str(tmp_path / "t")
    n = 4
    keys = [f"PMC{i}" for i in range(40)]
    upsert_parquet(
        spark, _rows(spark, [(k, "v1") for k in keys]), path,
        key_cols=["article_id"], n_buckets=n,
    )
    target = keys[0]
    b = _bucket_of(spark, target, n)

    # writer B has read the table and merged; writer A commits into the
    # same bucket before B publishes — B must raise by name, A's rows stay
    real_commit = catalog.commit

    def a_lands_first(*args, **kwargs):
        catalog.commit = real_commit
        upsert_parquet(
            spark, _rows(spark, [(target, "A")]), path,
            key_cols=["article_id"], n_buckets=n,
        )
        return real_commit(*args, **kwargs)

    catalog.commit = a_lands_first
    try:
        try:
            upsert_parquet(
                spark, _rows(spark, [(target, "B")]), path,
                key_cols=["article_id"], n_buckets=n,
            )
            raise AssertionError("overlapping writer did not raise")
        except ConcurrentUpsertError as e:
            assert str(b) in str(e)
    finally:
        catalog.commit = real_commit
    assert _table_state(spark, path)[target] == "A"

    # the loser's retry after the winner committed lands; nothing is lost
    upsert_parquet(
        spark, _rows(spark, [(target, "B")]), path,
        key_cols=["article_id"], n_buckets=n,
    )
    state = _table_state(spark, path)
    assert state[target] == "B"
    assert len(state) == len(keys)

    # two RACING writers into one bucket: at least one commits; any loser
    # raises the named error only — never a silent partial merge
    same_bucket_keys = [k for k in keys if _bucket_of(spark, k, n) == b][:4]
    assert same_bucket_keys
    outcomes = []

    def work(tag):
        try:
            upsert_parquet(
                spark,
                _rows(spark, [(k, tag) for k in same_bucket_keys]),
                path, key_cols=["article_id"], n_buckets=n,
            )
            outcomes.append(("ok", tag))
        except ConcurrentUpsertError:
            outcomes.append(("locked", tag))
        except Exception as e:  # anything else is a real failure
            outcomes.append(("error", repr(e)))

    t1 = threading.Thread(target=work, args=("X",))
    t2 = threading.Thread(target=work, args=("Y",))
    t1.start(); time.sleep(0.01); t2.start()
    t1.join(); t2.join()
    kinds = sorted(k for k, _ in outcomes)
    assert "error" not in kinds, outcomes
    assert "ok" in kinds, outcomes  # at least one committed
    state = _table_state(spark, path)
    winners = {tag for k, tag in outcomes if k == "ok"}
    assert {state[k] for k in same_bucket_keys} <= winners
    assert len(state) == len(keys)  # no rows lost anywhere


def test_rebucket_migrates_layout_and_content(spark, tmp_path):
    """rebucket (round-10 verdict #3): 8 → 3 buckets — content identical,
    layout record updated, point-lookups prune against the NEW layout,
    later upserts with the old n_buckets raise by name, and the directory
    set is exactly the new layout's buckets."""
    import os

    from pubmed_central_semantic_search_spark.sources.catalog import rebucket

    path = str(tmp_path / "t")
    keys = [f"PMC{i}" for i in range(60)]
    upsert_parquet(
        spark, _rows(spark, [(k, f"v{k}") for k in keys]), path,
        key_cols=["article_id"], n_buckets=8,
    )
    before = _table_state(spark, path)

    stats = rebucket(spark, path, 3)
    assert stats == {"old_n_buckets": 8, "new_n_buckets": 3, "rows": 60}
    assert _table_state(spark, path) == before
    layout = read_record(spark, path)["layout"]
    assert int(layout["n_buckets"]) == 3
    assert layout["bucket_cols"] == "article_id"
    assert layout.get("bucket_col_types") == ["string"]
    dirs = {
        d for d in os.listdir(path) if d.startswith(BUCKET_COL + "=")
    }
    assert dirs <= {f"{BUCKET_COL}={i}" for i in range(3)}
    # point-lookup prunes against the new layout (value correctness; the
    # plan-side prune evidence is test_lookup_* above)
    got = read_upsert_table(
        spark, path, key_equals={"article_id": "PMC7"}
    ).collect()
    assert [r.payload for r in got] == ["vPMC7"]
    # an upsert still calling the OLD bucket count raises by name
    try:
        upsert_parquet(
            spark, _rows(spark, [("PMC7", "nope")]), path,
            key_cols=["article_id"], n_buckets=8,
        )
        raise AssertionError("stale-n_buckets upsert did not raise")
    except ValueError as e:
        assert "layout mismatch" in str(e)
    # an upsert with the new count works; groups/keys rehash consistently
    upsert_parquet(
        spark, _rows(spark, [("PMC7", "new")]), path,
        key_cols=["article_id"], n_buckets=3,
    )
    assert _table_state(spark, path)["PMC7"] == "new"


def test_rebucket_sql_surface_and_noop(spark, tmp_path):
    """REBUCKET '<path>' BUCKETS <n> dispatches to rebucket(); a same-n
    call is a no-op (rows == -1), and a flat table raises by name."""
    from pubmed_central_semantic_search_spark.sources.catalog import rebucket
    from pubmed_central_semantic_search_spark.sql import catalog_sql

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "a"), ("PMC2", "b")]), path,
        key_cols=["article_id"], n_buckets=4,
    )
    stats = catalog_sql(spark, f"REBUCKET '{path}' BUCKETS 2")
    assert stats["new_n_buckets"] == 2 and stats["rows"] == 2
    assert catalog_sql(spark, f"REBUCKET '{path}' BUCKETS 2")["rows"] == -1
    flat = str(tmp_path / "flat")
    upsert_parquet(
        spark, _rows(spark, [("PMC1", "a")]), flat, key_cols=["article_id"]
    )
    try:
        rebucket(spark, flat, 4)
        raise AssertionError("flat rebucket did not raise")
    except ValueError as e:
        assert "flat" in str(e)


def test_concurrent_writers_converge_with_retries(spark, tmp_path):
    """Convergence under the commit log: four writers race over a SHARED
    key set,
    retrying on ConcurrentUpsertError until they commit. Every writer
    must eventually succeed exactly once, the final state must be one
    of the writers' tags per key (no torn/merged rows), and no key may
    be lost."""
    import threading
    import time

    from pubmed_central_semantic_search_spark.sources.catalog import (
        ConcurrentUpsertError,
    )

    path = str(tmp_path / "t")
    keys = [f"PMC{i}" for i in range(12)]
    upsert_parquet(
        spark, _rows(spark, [(k, "seed") for k in keys]), path,
        key_cols=["article_id"], n_buckets=2,  # 2 buckets => heavy overlap
    )
    commits, errors = [], []

    def work(tag):
        deadline = time.monotonic() + 120
        while True:
            try:
                upsert_parquet(
                    spark, _rows(spark, [(k, tag) for k in keys]), path,
                    key_cols=["article_id"], n_buckets=2,
                )
                commits.append(tag)
                return
            except ConcurrentUpsertError:
                if time.monotonic() >= deadline:
                    errors.append((tag, "timeout"))
                    return
                time.sleep(0.1)
            except Exception as e:
                errors.append((tag, repr(e)))
                return

    tags = [f"w{i}" for i in range(4)]
    threads = [threading.Thread(target=work, args=(t,)) for t in tags]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(commits) == sorted(tags)  # each committed exactly once
    state = _table_state(spark, path)
    assert len(state) == len(keys)  # no rows lost
    # each key carries exactly one whole writer's tag (no torn merges);
    # the LAST committed writer's batch rewrote every key it touched,
    # and every batch touches all keys, so the state is uniform
    assert len(set(state.values())) == 1, state
    assert next(iter(set(state.values()))) in tags


# --- the commit log: zero-job reads, the publish race, crashes --------------


def test_read_upsert_table_launches_no_spark_job(spark, tmp_path):
    """A read is one log record: the file list and the schema come from
    it, so building the read of a 16-bucket table (whole-table and
    point/batch lookups alike) schedules no Spark job — no schema
    inference, no listing job."""
    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id AS k", "CAST(id * 3 AS STRING) AS v")
    upsert_parquet(spark, df, path, key_cols=["k"], n_buckets=16)
    sc = spark.sparkContext
    spark.range(1).collect()

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    before = jobs()
    whole = read_upsert_table(spark, path)
    one = read_upsert_table(spark, path, key_equals={"k": 5})
    batch = read_upsert_table(spark, path, key_equals={"k": [5, 77, 900]})
    assert jobs() == before, "read_upsert_table scheduled a Spark job"
    assert whole.columns == ["k", "v"]
    assert whole.count() == 2000
    assert [(r.k, r.v) for r in one.collect()] == [(5, "15")]
    assert sorted(r.k for r in batch.collect()) == [5, 77, 900]


def test_publish_race_one_winner_disjoint_republish_overlap_raises(spark, tmp_path):
    """N threads (more than cores) race to publish the SAME version. The
    put itself admits exactly one; every disjoint loser republishes its
    files at the next version, and the losers that read the winner's
    bucket raise ConcurrentUpsertError by name. The final record holds
    every successful commit's files — a lost update would drop one."""
    import sys
    import threading

    from pubmed_central_semantic_search_spark.sources.catalog import (
        ConcurrentUpsertError,
        commit,
        read_record,
    )
    from pubmed_central_semantic_search_spark.sources.fsio import _put_if_absent

    def run_all(target, n):
        threads = [threading.Thread(target=target, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, _rows(spark, [(f"PMC{i}", "v1") for i in range(8)]), path,
        key_cols=["article_id"], n_buckets=8,
    )
    base = read_record(spark, path)
    # six disjoint writers (buckets 0-5) + two more that read bucket 0
    reads = [[b] for b in range(6)] + [[0], [0]]
    target = str(tmp_path / "race" / "v1")
    wins, ok, raised, errors = [], {}, [], []
    put_barrier = threading.Barrier(8)
    commit_barrier = threading.Barrier(len(reads))

    def put(i):
        put_barrier.wait()
        wins.append(_put_if_absent(spark, target, f"writer {i}"))

    def work(i):
        entry = {"path": f"_bucket={reads[i][0]}/fake-{i}.parquet",
                 "bucket": reads[i][0], "rows": 1, "bytes": 1}
        commit_barrier.wait()
        try:
            rec = commit(spark, path, base, "UPSERT", [entry], set(), reads[i],
                         base["schema"], base["layout"], 0.0)
            ok[i] = rec["version"]
        except ConcurrentUpsertError:
            raised.append(i)
        except Exception as e:
            errors.append(repr(e))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the racers as finely as possible
    try:
        run_all(put, 8)  # the primitive: eight racing puts of one name
        run_all(work, len(reads))  # the protocol
    finally:
        sys.setswitchinterval(switch)
    assert sorted(wins) == [False] * 7 + [True]
    assert open(target).read().startswith("writer ")
    assert not errors, errors
    v0 = base["version"]
    assert sorted(ok.values()) == list(range(v0 + 1, v0 + 7))  # one per version
    assert {1, 2, 3, 4, 5} <= set(ok)  # every disjoint writer landed
    assert len(raised) == 2 and set(raised) | set(ok) == set(range(8))
    assert len({0, 6, 7} & set(ok)) == 1  # one bucket-0 writer won
    final = read_record(spark, path)
    assert final["version"] == v0 + 6
    fakes = {f["path"] for f in final["files"] if "fake-" in f["path"]}
    assert fakes == {f"_bucket={reads[i][0]}/fake-{i}.parquet" for i in ok}


def test_crash_after_data_write_and_after_publish_keeps_last_version(spark, tmp_path):
    """A crash after the data write (before the publish) and a crash after
    the publish (before the replaced files are deleted) each leave the
    latest published version readable; the next upsert is correct, and
    VACUUM then deletes exactly the unreferenced leftovers."""
    import pytest

    from pubmed_central_semantic_search_spark.sources import catalog
    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_record,
        snapshot_vacuum,
    )

    for n_buckets in (None, 4):
        path = str(tmp_path / f"t{n_buckets}")
        upsert_parquet(
            spark, _rows(spark, [(f"PMC{i}", "v1") for i in range(12)]), path,
            key_cols=["article_id"], n_buckets=n_buckets,
        )
        v1 = read_record(spark, path)["version"]

        def crash(*args, **kwargs):
            raise RuntimeError("injected crash")

        for point, state in (("commit", "v1"), ("delete_files", "v2")):
            real = getattr(catalog, point)
            setattr(catalog, point, crash)
            try:
                with pytest.raises(RuntimeError, match="injected crash"):
                    upsert_parquet(
                        spark, _rows(spark, [("PMC1", state)]), path,
                        key_cols=["article_id"], n_buckets=n_buckets,
                    )
            finally:
                setattr(catalog, point, real)
            got = _table_state(spark, path)
            assert len(got) == 12 and got["PMC1"] == state
        # the crash before the publish published nothing; the one after did
        assert read_record(spark, path)["version"] == v1 + 1
        assert len(_file_snapshot(path)) > len(_live_files(spark, path))
        upsert_parquet(
            spark, _rows(spark, [("PMC1", "v3"), ("PMCnew", "n")]), path,
            key_cols=["article_id"], n_buckets=n_buckets,
        )
        got = _table_state(spark, path)
        assert len(got) == 13 and got["PMC1"] == "v3" and got["PMC2"] == "v1"
        snapshot_vacuum(spark, path, keep_last=1)
        assert set(_file_snapshot(path)) == _live_files(spark, path)
        assert _table_state(spark, path) == got
