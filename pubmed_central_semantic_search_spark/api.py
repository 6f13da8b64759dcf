"""User-facing engine facade — the workflow twin of the reference's
``QdrantDatabase`` (``/root/reference/src/backend/database/qdrant.py:59-247``)
plus ``DataFetcher`` dispatch (``data_fetcher.py:32-61``). A user of the
reference maps their calls 1:1:

| Reference | Here |
|---|---|
| ``QdrantDatabase(client, model)``        | ``SemanticSearchEngine(spark, root)`` |
| ``reset_database()`` (qdrant.py:91-96)   | ``reset_database()`` |
| ``upload_from_dataset`` (qdrant.py:98-100) | ``upload_articles(df)`` / ``upload_from_jsonl(paths)`` |
| ``upload_from_pmcid`` (qdrant.py:102-104)  | ``upload_from_pmcids([...])`` |
| ``DataFetcher.from_pdf`` (stub)          | ``upload_from_pdf`` (stub, S6 parity) |
| ``query(queries, docs_per_query, highlight, paragraphs_per_document)`` (qdrant.py:233-247) | ``query(...)`` same signature |
| ``QdrantQueryResponses`` HTML (responses.py) | ``query_html(...)`` |

Storage: two parquet tables under ``root`` mirroring the two Qdrant
collections (SURVEY §1.4) — ``chunks`` (chunk vectors + payload) and
``doc_vectors`` (mean-pooled, H1-keyed). Ingest writes chunks FIRST and
derives doc vectors from the written parquet, so the expensive E1 encode
is materialized exactly once (the stage-isolation tactic from SURVEY §4);
both writes are keyed idempotent upserts — re-uploading an article
overwrites it, the reference's re-upload semantics (qdrant.py:137-139).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .encoder import DEFAULT_DIM, encode_column, fake_encode_matrix
from .functions.text import doc_key
from .operators.chunking import explode_chunks
from .operators.pooling import mean_pool
from .operators.render import render_hits
from .operators.search import highlight_chunks, score_documents, semantic_search
from .sources.catalog import read_files, read_upsert_table, upsert_parquet
from .sources.jsonl import read_jsonl_splits
from .sources.pmc import fetch_articles, to_article_rows
from .schemas import ARTICLES_SCHEMA
from .session import local_df


class SemanticSearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        encoder: str = "fake",
        dim: int = DEFAULT_DIM,
        partition_buckets: int | None = None,
    ) -> None:
        """``partition_buckets`` switches both store tables to the
        bucket-partitioned upsert layout (catalog.upsert_parquet):
        each upload rewrites only the ``pmod(xxhash64(article_id), n)``
        buckets its articles land in — the 100 TB ingest shape. Choose it
        at store creation and keep it (the layouts don't mix)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.chunks_path = f"{self.root}/chunks"
        self.doc_vectors_path = f"{self.root}/doc_vectors"
        self.encoder = encoder
        self.dim = dim
        self.partition_buckets = partition_buckets

    # -- DDL ---------------------------------------------------------------

    def reset_database(self) -> None:
        """qdrant.py:91-96 — drop both collections (works on any Hadoop
        filesystem scheme, not just local)."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        for path in (self.chunks_path, self.doc_vectors_path):
            p = jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(conf).delete(p, True)

    def _read(self, path: str) -> DataFrame:
        """Layout-agnostic table read — the bucket column is a write-side
        scale knob, never part of the query-facing schema."""
        return read_upsert_table(self.spark, path)

    # -- ingest ------------------------------------------------------------

    def upload_articles(self, articles: DataFrame) -> None:
        """The reference's ``_upload`` pipeline (qdrant.py:110-175) as two
        batch jobs: explode→encode→write chunks ARTICLE-REPLACINGLY
        (``replace_group_col`` — a chunk-keyed upsert alone cannot delete,
        so re-uploading a shortened article would leave its removed
        paragraphs searchable); mean-pool from the WRITTEN chunks of just
        the UPLOADED articles (the chunk commit's rewritten buckets,
        broadcast semi-join on the batch's article ids — re-pooling the
        whole corpus would make every small ingest an O(corpus) job) →
        upsert doc vectors (E1 runs once, H1-keyed
        idempotent overwrite)."""
        chunks = explode_chunks(articles).withColumn(
            "embedding", encode_column("paragraph", kind=self.encoder, dim=self.dim)
        )
        record = upsert_parquet(
            self.spark,
            chunks,
            self.chunks_path,
            key_cols=["chunk_id"],
            replace_group_col="article_id",
            n_buckets=self.partition_buckets,
            # the batch carries the ENCODER stage — persist it across the
            # merge's actions so E1 runs once per upload, not per
            # consumption (the upsert consumes the batch plan 2-3×)
            persist_batch=True,
        )
        if record is None:
            return  # an empty upload committed nothing
        # the doc vectors of just the uploaded articles, pooled from the
        # WRITTEN chunks: the files of the buckets this commit rewrote
        # (every file of a flat table), semi-joined to the batch's ids
        written = read_files(
            self.spark, self.chunks_path, record, record["buckets"]
        ).join(
            F.broadcast(articles.select("article_id").distinct()),
            "article_id",
            "left_semi",
        )
        vecs = mean_pool(
            written, group=["article_id"], vec_col="embedding", dim=self.dim
        ).withColumn("doc_pk", doc_key("article_id"))
        upsert_parquet(
            self.spark,
            vecs,
            self.doc_vectors_path,
            key_cols=["article_id"],
            n_buckets=self.partition_buckets,
        )

    def upload_from_jsonl(self, paths: list[str]) -> None:
        """armac corpus path (S1/S2): JSONL splits → one union → ingest."""
        self.upload_articles(
            read_jsonl_splits(self.spark, paths, schema=ARTICLES_SCHEMA)
        )

    def upload_from_pmcids(self, pmcids: list[str]) -> None:
        """qdrant.py:102-104 — fetch + JATS-parse + ingest (network)."""
        parsed = fetch_articles(self.spark, pmcids)
        self.upload_articles(to_article_rows(parsed))

    def upload_from_pdf(self, path: str) -> None:
        """S6 — declared-unimplemented, matching fetch_pdf.py:2-4."""
        raise NotImplementedError("PDF ingestion is a stub in the reference too")

    # -- query -------------------------------------------------------------

    def _query_frame(self, queries: str | list[str]) -> DataFrame:
        """qdrant.py:233-236 — str→[str] promote, encode with THE SAME
        encoder as ingest (an engine built with encoder='sbert' must not
        score sbert document vectors against hash-fake query vectors —
        cosine across encoder spaces is noise). The fake path encodes
        driver-side (tiny row count, zero jobs); any other encoder runs
        the engine's own Arrow encode stage over the k-row frame."""
        if isinstance(queries, str):
            queries = [queries]
        if self.encoder == "fake":
            vecs = fake_encode_matrix(list(queries), self.dim)
            return local_df(self.spark, 
                [
                    (i, q, [float(x) for x in v])
                    for i, (q, v) in enumerate(zip(queries, vecs))
                ],
                "query_id int, query_text string, qvec array<double>",
            )
        base = local_df(self.spark, 
            list(enumerate(queries)), "query_id int, query_text string"
        )
        return base.withColumn(
            "qvec",
            encode_column("query_text", kind=self.encoder, dim=self.dim).cast(
                "array<double>"
            ),
        )

    def query(
        self,
        queries: str | list[str],
        docs_per_query: int = 5,
        highlight: bool = True,
        paragraphs_per_document: int = 1,
        context_window: int = 1,
    ) -> DataFrame:
        """The reference's core query (qdrant.py:201-247) — defaults mirror
        the UI (k=5 docs, 1 paragraph, app.py:113,118)."""
        doc_vectors = self._read(self.doc_vectors_path)
        chunks = self._read(self.chunks_path)
        q = self._query_frame(queries)
        out = semantic_search(
            doc_vectors,
            chunks,
            q,
            k_docs=docs_per_query,
            n_paragraphs=paragraphs_per_document,
            highlight=highlight,
            context_window=context_window,
            kernel=self._kernel(),
        )
        return out.join(F.broadcast(q.select("query_id", "query_text")), "query_id")

    def _kernel(self) -> str:
        """The auto kernel tier, resolved at plan time from the engine's
        OWN dim (no peek job): the reference's real width (768,
        qdrant.py:74) scores through the Arrow/BLAS matmul; narrow test
        dims keep the bit-exact Catalyst fold. The engine's results are
        rank-stable across kernels (rounded-score twin equivalence is
        test-pinned); callers hashing exact floats use the operators
        directly with kernel='hof'."""
        from .plans.planner import resolve_kernel

        return resolve_kernel(self.dim)

    def query_html(
        self,
        queries: str | list[str],
        docs_per_query: int = 5,
        paragraphs_per_document: int = 1,
    ) -> DataFrame:
        """responses.py rendering: <mark>-wrapped context, article link."""
        doc_vectors = self._read(self.doc_vectors_path)
        chunks = self._read(self.chunks_path)
        q = self._query_frame(queries)
        top_docs = score_documents(
            doc_vectors, q, k_docs=docs_per_query, kernel=self._kernel()
        )
        hits = highlight_chunks(chunks, top_docs, paragraphs_per_document)
        return render_hits(hits, chunks).join(
            F.broadcast(q.select("query_id", "query_text")), "query_id"
        )
