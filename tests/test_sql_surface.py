"""SQL entry point: the temp-view + SQL-UDF surface must produce the
same results (and the same plan shapes) as the DataFrame API."""

import pyspark.sql.functions as F

from pubmed_central_semantic_search_spark.registry import REGISTRY, QUERY_VEC
from pubmed_central_semantic_search_spark.sql import (
    register_sql_surface,
    SQL_FUNCTIONS,
)


def _sql_vec(vec):
    return "array(" + ", ".join(f"{v!r}D" for v in vec) + ")"


def test_sql_flagship_matches_dataframe_q1(spark, sf_dir):
    register_sql_surface(spark, sf_dir)
    sql_rows = spark.sql(
        f"""
        SELECT vec_id,
               round(cos_sim(embedding_d(embedding), {_sql_vec(QUERY_VEC)}), 6)
                 AS score
        FROM embeddings
        ORDER BY score DESC, vec_id
        LIMIT 5
        """
    ).collect()
    df_rows = (
        REGISTRY["q1_topk_cosine"]
        .spark(spark, sf_dir)
        .orderBy(F.desc("score"), "vec_id")
        .collect()
    )
    assert [(r["vec_id"], r["score"]) for r in sql_rows] == [
        (r["vec_id"], r["score"]) for r in df_rows
    ]


def test_sql_udfs_are_catalyst_not_python(spark, sf_dir):
    """SQL expression UDFs must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython stage may appear in the plan."""
    register_sql_surface(spark, sf_dir)
    df = spark.sql(
        "SELECT vec_id, cos_sim(embedding_d(embedding), embedding_d(embedding)) AS s "
        "FROM embeddings"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sql_scalar_helpers(spark, sf_dir):
    register_sql_surface(spark, sf_dir)
    row = spark.sql(
        """
        SELECT token_count('a  b c') AS tc,
               h32('x', 0) AS h,
               pmc_link('PMC123') AS link,
               round(vec_norm(array(3D, 4D)), 6) AS n
        """
    ).first()
    assert row["tc"] == 3
    assert row["h"] >= 0
    assert row["link"] == "https://pmc.ncbi.nlm.nih.gov/articles/PMC123/"
    assert row["n"] == 5.0


def test_register_is_idempotent(spark, sf_dir):
    register_sql_surface(spark, sf_dir)
    register_sql_surface(spark, sf_dir)  # CREATE OR REPLACE — no error
    assert len(SQL_FUNCTIONS) >= 8


def test_sql_ihist_twins_match_column_api(spark, sf_dir):
    """The SQL ihist_bucket/ihist_rep expression UDFs agree value-for-value
    with the Column API across every exponent regime, and carry the same
    guards."""
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.operators.sketch import (
        ihist_bucket,
        ihist_rep,
    )
    from pubmed_central_semantic_search_spark.sql import register_sql_functions

    register_sql_functions(spark)
    vals = list(range(0, 40)) + [
        (1 << e) + d for e in range(5, 62, 9) for d in (0, 1, (1 << e) - 1)
    ] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    df.createOrReplaceTempView("ihist_probe")
    got = {
        r["n"]: (r["b"], r["rep"])
        for r in spark.sql(
            "SELECT n, ihist_bucket(n) AS b, ihist_rep(ihist_bucket(n)) AS rep "
            "FROM ihist_probe"
        ).collect()
    }
    want = {
        r["n"]: (r["b"], r["rep"])
        for r in df.select(
            "n", ihist_bucket("n").alias("b"),
            ihist_rep(ihist_bucket("n")).alias("rep"),
        ).collect()
    }
    assert got == want
    import pytest as _pt

    with _pt.raises(Exception, match="negative"):
        spark.sql("SELECT ihist_bucket(-5)").collect()


def test_sql_doc_key_point_lookup_prunes_partitions(spark, sf_dir, tmp_path):
    """Round-6 verdict #8: the doc_key SQL UDF composes with the
    bucket-partitioned layout for a pure-SQL point lookup — the predicate
    `_bucket = pmod(doc_key(<id>), n)` is partition pruning (the plan's
    parquet scan carries PartitionFilters), and the looked-up row
    matches. The hash formula is catalog.bucket_expr's, shared verbatim:
    xxhash64 over the STRING key."""
    from pubmed_central_semantic_search_spark.sources.catalog import (
        upsert_parquet,
    )

    register_sql_surface(spark, sf_dir)
    docs = spark.sql(
        "SELECT CAST(doc_id AS STRING) AS article_id, text "
        "FROM documents WHERE doc_id < 64"
    )
    path = str(tmp_path / "bucketed")
    upsert_parquet(spark, docs, path, key_cols=["article_id"], n_buckets=8)
    spark.read.parquet(path).createOrReplaceTempView("chunk_store")
    df = spark.sql(
        """
        SELECT article_id, text FROM chunk_store
        WHERE _bucket = pmod(doc_key('7'), 8) AND article_id = '7'
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["article_id"] == "7"


def test_sql_pure_semantic_search_composition(spark, sf_dir):
    """Round-6 verdict #8: the FULL semantic-search pipeline — mean-pooled
    doc vectors → top-k docs by cosine → best chunk per hit — expressed
    in one pure-SQL statement over the registered views and UDFs, with
    zero Python stages, matching the DataFrame operators row for row at
    rounded scores."""
    from pubmed_central_semantic_search_spark.operators.pooling import mean_pool
    from pubmed_central_semantic_search_spark.operators.search import (
        highlight_chunks,
        score_documents,
    )
    from pubmed_central_semantic_search_spark.queries.pipeline import (
        _synthetic_chunks,
    )
    from pubmed_central_semantic_search_spark.session import local_df

    register_sql_surface(spark, sf_dir)
    qv = _sql_vec(QUERY_VEC)
    sql_df = spark.sql(
        f"""
        WITH chunk AS (
          SELECT CAST(vec_id % 50 AS STRING) AS article_id,
                 CAST(vec_id DIV 50 AS INT) AS paragraph_id,
                 concat('p', vec_id) AS paragraph,
                 embedding_d(embedding) AS emb
          FROM embeddings
        ),
        docvec AS (
          SELECT article_id, pos, avg(val) AS m
          FROM (SELECT article_id, posexplode(emb) AS (pos, val) FROM chunk)
          GROUP BY article_id, pos
        ),
        dv AS (
          SELECT article_id,
                 transform(array_sort(collect_list(struct(pos, m))), s -> s.m)
                   AS emb
          FROM docvec GROUP BY article_id
        ),
        top_docs AS (
          SELECT article_id, round(cos_sim(emb, {qv}), 6) AS doc_score
          FROM dv
          ORDER BY doc_score DESC, article_id LIMIT 5
        ),
        hits AS (
          SELECT t.article_id, t.doc_score, c.paragraph_id,
                 round(cos_sim(c.emb, {qv}), 6) AS chunk_score,
                 row_number() OVER (
                   PARTITION BY t.article_id
                   ORDER BY round(cos_sim(c.emb, {qv}), 6) DESC, c.paragraph_id
                 ) AS rk
          FROM chunk c JOIN top_docs t USING (article_id)
        )
        SELECT article_id, doc_score, paragraph_id, chunk_score
        FROM hits WHERE rk = 1
        """
    )
    plan = sql_df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    chunks = _synthetic_chunks(spark, sf_dir)
    dv = mean_pool(chunks, group=["article_id"], vec_col="embedding")
    q = local_df(spark, [(0, QUERY_VEC)], "query_id int, qvec array<double>")
    top = score_documents(dv, q, k_docs=5)
    df_rows = {
        (r["article_id"], round(r["doc_score"], 6), r["paragraph_id"],
         round(r["chunk_score"], 6))
        for r in highlight_chunks(chunks, top, n_paragraphs=1).collect()
    }
    sql_rows = {
        (r["article_id"], r["doc_score"], r["paragraph_id"], r["chunk_score"])
        for r in sql_df.collect()
    }
    assert sql_rows == df_rows


def test_catalog_sql_upsert_snapshot_roundtrip(spark, tmp_path):
    """Round-8 stretch (verdict #8): the write path for SQL-only users —
    UPSERT INTO / UPSERT READ (incl. a bucket-pruned LOOKUP) / SNAPSHOT
    WRITE / READ / DIFF, each one statement string, SELECT bodies through
    spark.sql. Results must match the Python-API twins exactly."""
    from pubmed_central_semantic_search_spark.sql import catalog_sql

    tbl = str(tmp_path / "t")
    snap = str(tmp_path / "s")
    spark.range(40).selectExpr(
        "id AS k", "CAST(id AS STRING) AS v"
    ).createOrReplaceTempView("src40")

    catalog_sql(
        spark,
        f"UPSERT INTO '{tbl}' KEY (k) BUCKETS 4 AS SELECT * FROM src40",
    )
    v1 = catalog_sql(
        spark, f"SNAPSHOT WRITE '{snap}' MODE overwrite AS SELECT * FROM src40"
    )
    assert v1 == 1
    # keyed overwrite of two rows
    catalog_sql(
        spark,
        f"UPSERT INTO '{tbl}' KEY (k) BUCKETS 4 AS "
        "SELECT k, concat(v, '-u') AS v FROM src40 WHERE k < 2",
    )
    out = catalog_sql(spark, f"UPSERT READ '{tbl}' AS VIEW t_all")
    got = {r.k: r.v for r in out.collect()}
    assert got[0] == "0-u" and got[1] == "1-u" and got[39] == "39"
    assert spark.sql("SELECT count(*) AS n FROM t_all").first().n == 40
    # pruned point lookup through the SQL surface
    lk = catalog_sql(spark, f"UPSERT READ '{tbl}' LOOKUP (k = 7) AS VIEW t_k7")
    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.sources.catalog import (
        bucket_expr,
        read_record,
    )

    b = spark.range(1).select(bucket_expr([F.lit(7).cast("bigint")], 4)).first()[0]
    live = {f["path"] for f in read_record(spark, tbl)["files"] if f["bucket"] == b}
    assert {f.split(tbl + "/", 1)[1] for f in lk.inputFiles()} == live
    assert [r.v for r in lk.collect()] == ["7"]
    # BATCH lookup: a list literal (commas inside brackets must not split
    # the term — round-8 self-review find) prunes to the bucket union
    bk = catalog_sql(
        spark, f"UPSERT READ '{tbl}' LOOKUP (k = [3, 5, 999]) AS VIEW t_b"
    )
    assert sorted(r.k for r in bk.collect()) == [3, 5]
    # snapshot v2 + CDC diff via views
    v2 = catalog_sql(
        spark, f"SNAPSHOT WRITE '{snap}' MODE overwrite AS SELECT * FROM t_all"
    )
    assert v2 == 2
    catalog_sql(spark, f"SNAPSHOT READ '{snap}' VERSION 1 AS VIEW s_v1")
    assert spark.sql("SELECT count(*) AS n FROM s_v1").first().n == 40
    catalog_sql(
        spark,
        f"SNAPSHOT DIFF '{snap}' FROM 1 TO 2 KEY (k) AS VIEW s_diff",
    )
    diff = {
        r.k: r.change for r in spark.sql("SELECT * FROM s_diff").collect()
    }
    assert diff == {0: "changed", 1: "changed"}
    # unknown statements raise by name
    import pytest as _pt

    with _pt.raises(ValueError, match="unrecognized statement"):
        catalog_sql(spark, "MERGE INTO nope")


def test_catalog_sql_compact_and_vacuum(spark, tmp_path):
    """Round-8: the housekeeping statements — COMPACT (flat + LEAVES) and
    VACUUM SNAPSHOTS — through the SQL surface, results matching the
    Python twins' stats contracts. LEAVES compacts a bucket-partitioned
    table; a plain hive-partitioned directory has no layout in the commit
    log and is refused by name."""
    import pytest

    from pubmed_central_semantic_search_spark.sql import catalog_sql

    # flat compaction: several small files -> fewer
    flat = str(tmp_path / "flat")
    for i in range(4):
        spark.range(100).selectExpr("id", f"id * {i + 1} AS v").write.mode(
            "append"
        ).parquet(flat)
    stats = catalog_sql(spark, f"COMPACT '{flat}'")
    assert stats["files_before"] > stats["files_after"]
    assert spark.read.parquet(flat).count() == 400
    # leaf compaction of a bucket-partitioned table whose buckets accreted
    # files (written under a small per-file row cap)
    part = str(tmp_path / "part")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", 3)
    try:
        catalog_sql(
            spark,
            f"UPSERT INTO '{part}' KEY (id) BUCKETS 4 AS "
            "SELECT id, id % 4 AS p FROM range(40)",
        )
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    stats = catalog_sql(spark, f"COMPACT '{part}' LEAVES")
    assert stats["leaves_compacted"] == 4
    assert stats["files_after"] == 4 < stats["files_before"]
    assert catalog_sql(spark, f"UPSERT READ '{part}' AS VIEW part_v").count() == 40
    hive = str(tmp_path / "hive")
    spark.range(40).selectExpr("id % 4 AS p", "id AS v").repartition(
        "p"
    ).write.partitionBy("p").parquet(hive)
    with pytest.raises(ValueError, match="hive-partitioned"):
        catalog_sql(spark, f"COMPACT '{hive}' LEAVES")
    assert spark.read.parquet(hive).count() == 40
    # snapshot vacuum
    snap = str(tmp_path / "snap")
    for i in range(3):
        catalog_sql(
            spark,
            f"SNAPSHOT WRITE '{snap}' MODE overwrite AS "
            f"SELECT {i} AS gen, * FROM range(10)",
        )
    out = catalog_sql(spark, f"VACUUM SNAPSHOTS '{snap}' KEEP 1")
    assert out["versions_removed"] == 2
    # the kept version still reads
    kept = catalog_sql(spark, f"SNAPSHOT READ '{snap}' AS VIEW s_kept")
    assert kept.count() == 10


def test_catalog_sql_lookup_parenthesized_and_escaped_values(spark, tmp_path):
    """Round-9 review pass over the catalog_sql parser: (a) the LOOKUP
    regex truncated at the FIRST ')' so a parenthesized (tuple) value
    reached literal_eval as a broken fragment; (b) _split_terms ignored
    backslash escapes, so a string key like 'it\\'s' closed the quote
    early and a later comma split the term apart."""
    from pubmed_central_semantic_search_spark.sql import (
        _parse_lookup,
        catalog_sql,
    )

    # (b) unit level: escaped quote + comma inside one term
    got = _parse_lookup(r"k = 'it\'s, really', j = 7")
    assert got == {"k": "it's, really", "j": 7}
    # (a) end to end: batch lookup with a TUPLE literal parses and prunes
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "CAST(id * 2 AS STRING) AS v")
    catalog_sql(
        spark,
        f"UPSERT INTO '{path}' KEY (k) BUCKETS 8 AS "
        "SELECT id AS k, CAST(id * 2 AS STRING) AS v FROM range(100)",
    )
    out = catalog_sql(spark, f"UPSERT READ '{path}' LOOKUP (k = (5, 9)) AS VIEW t_par")
    assert sorted((r.k, r.v) for r in out.collect()) == [(5, "10"), (9, "18")]


def test_negative_zero_normalizes_in_both_literal_builders(spark):
    """Round-11 verdict #6 (the r10 review pass's documented latent
    risk, now fenced): a query-vector component that is exactly -0.0
    must render identically on both engines — repr(-0.0) would put
    '-0.0' in the DuckDB oracle literal while the Spark side could
    disagree in the driver's value-hash. Both literal builders
    normalize to +0.0; the values stay equal for every vector op."""
    from pubmed_central_semantic_search_spark.functions.vector import (
        array_lit,
        matrix_lit,
        tensor_lit,
    )
    from pubmed_central_semantic_search_spark.registry import sql_vec

    assert "-0.0" not in sql_vec([-0.0, 1.5, -0.0])
    assert sql_vec([-0.0]) == sql_vec([0.0])
    row = spark.range(1).select(
        array_lit([-0.0, 2.0]).alias("a"),
        matrix_lit([[-0.0], [3.0]]).alias("m"),
        tensor_lit([[[-0.0]]]).alias("t"),
    ).collect()[0]
    import math

    assert math.copysign(1.0, row.a[0]) == 1.0  # +0.0, not -0.0
    assert math.copysign(1.0, row.m[0][0]) == 1.0
    assert math.copysign(1.0, row.t[0][0][0]) == 1.0
    assert row.a == [0.0, 2.0]


def test_lookup_malformed_literal_raises_by_name(spark, tmp_path):
    """Round-11 review pass (sixteenth, sql.py): a LOOKUP value that is
    not a Python literal must fail naming the term and accepted forms —
    the bare ast.literal_eval SyntaxError pointed at nothing."""
    import pytest

    from pubmed_central_semantic_search_spark.sql import (
        _parse_lookup,
        catalog_sql,
    )

    with pytest.raises(ValueError, match="not a Python literal"):
        _parse_lookup("k = abc")
    path = str(tmp_path / "t")
    catalog_sql(
        spark,
        f"UPSERT INTO '{path}' KEY (k) AS "
        "SELECT id AS k, CAST(id AS STRING) AS v FROM range(5)",
    )
    with pytest.raises(ValueError, match="'k'"):
        catalog_sql(spark, f"UPSERT READ '{path}' LOOKUP (k = abc) AS VIEW t_bad")
