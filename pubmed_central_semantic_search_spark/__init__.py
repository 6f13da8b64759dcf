"""PySpark-native analytics engine with the query and data-processing
capabilities of ``ggruber193/pubmed-central-semantic-search``.

The reference (surveyed in ``SURVEY.md``) is a Qdrant+sentence-transformers
semantic-search app over PubMed Central articles. This package re-expresses
its entire data-processing surface — ingestion, chunking, embedding,
mean-pooled document vectors, top-k cosine document search with filtered
chunk highlighting and ±1-paragraph context windows — as idiomatic Spark
DataFrame plans, plus the LLM-data-pipeline extensions (dedup, similarity
search, multimodal columns, text analysis) designed for 100 TB scale.

Layout:

- ``session``    — SparkSession factory tuned for the local[32] harness.
- ``schemas``    — fixed StructType schemas for articles/chunks/doc_vectors.
- ``encoder``    — deterministic fake text encoder (pandas_udf) + optional
                   real sentence-transformers path behind an import guard.
- ``functions/`` — column-expression builders (vector math, text/hash fns).
- ``operators/`` — DataFrame→DataFrame transforms (chunking, pooling, top-k,
                   search, dedup, clustering, text stats, ANN, multimodal,
                   curation).
- ``sources/``   — readers/writers (JSONL, EuropePMC JATS XML, PDF) and the
                   table layer (upsert tables and snapshots over one
                   commit log).
- ``queries/``   — the driver-facing registry queries, each with its DuckDB
                   oracle.
- ``plans/``     — plan helpers: the dense-kernel rule (``resolve_kernel``),
                   plan introspection (``explain_str``/``assert_plan``)
                   and the Z-order file layout (``layout``).
- ``api``/``sql``— the engine facade (``SemanticSearchEngine``) and the
                   pure-SQL entry point.
- ``streaming/`` — Structured Streaming incremental ingest.
"""

__version__ = "0.1.0"
