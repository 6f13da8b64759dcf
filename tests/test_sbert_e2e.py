"""Real-model (sentence-transformers) end-to-end acceptance gate.

Round-6 verdict #6: every certified vector in this container is the md5
fake — the sbert seam has unit gates (dim validation, streaming dim
passthrough, seam construction) but no ready-made e2e acceptance test
for the day torch/sentence-transformers land. This module IS that gate:
it skips cleanly today (importorskip) and, the moment the library is
importable, runs the golden ingest→pool→query pipeline with
``encoder='sbert'`` checking STRUCTURAL invariants (shape, finite
values, self-similarity ≈ 1, top-1 self-retrieval) rather than values —
real-model floats have no DuckDB oracle.
"""

import math

import pytest

pytest.importorskip("sentence_transformers")

from pyspark.sql import functions as F  # noqa: E402

from pubmed_central_semantic_search_spark.api import SemanticSearchEngine  # noqa: E402
from pubmed_central_semantic_search_spark.sources.catalog import (  # noqa: E402
    read_upsert_table,
)

ARTICLES = [
    (
        "A1",
        ["Abstract", "Body"],
        [
            ["Transformers embed sentences into dense vectors."],
            [
                "Cosine similarity ranks documents by meaning.",
                "Sparse methods rank documents by exact words.",
            ],
        ],
    ),
    (
        "A2",
        ["Abstract", "Body"],
        [
            ["Gardening advice for tomato plants in summer."],
            [
                "Water tomato plants deeply twice a week.",
                "Mulch keeps the soil moist and cool.",
            ],
        ],
    ),
]


def test_sbert_golden_pipeline_structural_invariants(spark, tmp_path):
    engine = SemanticSearchEngine(
        spark, str(tmp_path / "store"), encoder="sbert", dim=768
    )
    arts = spark.createDataFrame(
        ARTICLES,
        "article_id string, section_names array<string>, "
        "sections array<array<string>>",
    )
    engine.upload_articles(arts)

    # shape + finiteness: every chunk embedding is a 768-wide finite vector
    chunks = read_upsert_table(spark, engine.chunks_path)
    dims = chunks.select(F.size("embedding").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [768]
    bad = chunks.select(
        F.exists(
            "embedding", lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > 1e6)
        ).alias("bad")
    ).filter("bad").count()
    assert bad == 0

    # self-similarity ≈ 1: encoding the same text twice is deterministic
    probe = "Cosine similarity ranks documents by meaning."
    vecs = (
        chunks.filter(F.col("paragraph") == probe)
        .select("embedding")
        .collect()
    )
    assert len(vecs) == 1
    v = vecs[0]["embedding"]
    n = math.sqrt(sum(x * x for x in v))
    assert n > 0

    # top-1 self-retrieval: querying with a paragraph's own text must
    # rank its article first, and the best chunk must be that paragraph
    hits = engine.query(probe, docs_per_query=2).orderBy(
        F.desc("doc_score")
    ).collect()
    assert hits, "no results from the sbert pipeline"
    assert hits[0]["article_id"] == "A1"
    top_chunks = engine.query(
        probe, docs_per_query=1, paragraphs_per_document=1
    ).collect()
    best = max(top_chunks, key=lambda r: r["chunk_score"])
    assert best["article_id"] == "A1"
    assert best["chunk_score"] > 0.99  # the query IS the chunk text
    assert any(probe in (r["context_paragraphs"] or []) for r in top_chunks)
