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

Query: the reference's shape (qdrant.py:201-229) — a top-k over the
document vectors, then a payload-filtered chunk search per hit. The
k×Q top documents come to the driver first, by one of two arms that
``plans.planner.fits_driver`` picks from the doc table's log record
(rows × dim float64s against ``spark.sql.autoBroadcastJoinThreshold``,
no job):

- under the fence, a driver-held tier: the doc vectors as one float64
  matrix plus their ids, scored by the numpy body of
  ``vectorized.multi_query_scores_udf`` and cut per query in
  ``grouped_top_k``'s order. It is cached per engine, keyed by the
  record's live file list — data files are immutable, so an equal list
  is equal data, and every commit (or ``reset_database`` plus a new
  upload) changes it; the version probe behind ``read_record`` is the
  freshness check. A miss rebuilds it with one bounded Arrow collect
  (``session.to_pandas_bounded``).
- over it (or for a table without a log), ``score_documents`` on the
  cluster, its k×Q rows collected.

Either way the hits are one small local frame, and the chunk stage
reads only the ranked articles' buckets (``read_upsert_table``'s batch
lookup, pruned on the driver) before ``highlight_with_context`` (or
``highlight_chunks`` + ``render_hits``) runs on them. ``query_text`` is
attached from the driver's list by ``query_id``, not joined.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from .encoder import DEFAULT_DIM, encode_column, fake_encode_matrix
from .functions.text import doc_key
from .operators import search, vectorized
from .operators.chunking import explode_chunks
from .operators.pooling import mean_pool
from .operators.render import render_hits
from .operators.search import highlight_chunks, score_documents
# the one-plan query stays importable here: perfbench's tracer wraps it by name
from .operators.search import semantic_search  # noqa: F401
from .plans.planner import fits_driver, resolve_kernel
from .sources.catalog import read_files, read_record, read_upsert_table, upsert_parquet
from .sources.jsonl import read_jsonl_splits
from .sources.pmc import fetch_articles, to_article_rows
from .schemas import ARTICLE_ID, ARTICLES_SCHEMA
from .session import collect_bounded, local_df, to_pandas_bounded


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
        # the driver-held doc-vector tier: (live file list, ids, vectors)
        self._tier = None

    # -- DDL ---------------------------------------------------------------

    def reset_database(self) -> None:
        """qdrant.py:91-96 — drop both collections (works on any Hadoop
        filesystem scheme, not just local)."""
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        for path in (self.chunks_path, self.doc_vectors_path):
            p = jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(conf).delete(p, True)

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

    def _encode_queries(self, queries: str | list[str]) -> list[tuple]:
        """qdrant.py:233-236 — str→[str] promote, encode with THE SAME
        encoder as ingest (an engine built with encoder='sbert' must not
        score sbert document vectors against hash-fake query vectors —
        cosine across encoder spaces is noise). Returns the driver rows
        (query_id, query_text, qvec). The fake path encodes driver-side
        (zero jobs); any other encoder runs the engine's own Arrow encode
        stage over the k-row frame, collected once."""
        if isinstance(queries, str):
            queries = [queries]
        queries = list(queries)
        if self.encoder == "fake":
            vecs = fake_encode_matrix(queries, self.dim)
            return [
                (i, q, [float(x) for x in v])
                for i, (q, v) in enumerate(zip(queries, vecs))
            ]
        base = local_df(self.spark,
            list(enumerate(queries)), "query_id int, query_text string"
        )
        encoded = base.withColumn(
            "qvec",
            encode_column("query_text", kind=self.encoder, dim=self.dim).cast(
                "array<double>"
            ),
        )
        rows = collect_bounded(encoded, len(queries), "query side")
        return sorted((tuple(r) for r in rows), key=lambda r: r[0])

    def _top_docs(self, q: list[tuple], k: int) -> tuple[DataFrame, list]:
        """Q1/Q3 — each query's top-k documents as one local frame
        (query_id, qvec, article_id, doc_score), plus the distinct ranked
        article ids. Under ``fits_driver``'s fence the driver tier scores
        them; over it (or without a log) ``score_documents`` does, on the
        cluster, and its k×Q rows are collected."""
        record = read_record(self.spark, self.doc_vectors_path)
        if fits_driver(self.spark, record, self.dim):
            rows = self._tier_top_k(record, q, k)
            id_field = StructType.fromJson(record["schema"])[ARTICLE_ID]
        else:
            queries = local_df(
                self.spark, [(i, v) for i, _, v in q], "query_id int, qvec array<double>"
            )
            top = score_documents(
                read_upsert_table(self.spark, self.doc_vectors_path),
                queries, k_docs=k, kernel=self._kernel(),
            )
            rows = collect_bounded(top, k * len(q), "top documents")
            id_field = top.schema[ARTICLE_ID]
        schema = StructType([
            StructField("query_id", IntegerType()),
            StructField("qvec", ArrayType(DoubleType())),
            id_field,
            StructField("doc_score", DoubleType()),
        ])
        ids = sorted({r[2] for r in rows})
        return local_df(self.spark, rows, schema), ids

    def _tier_top_k(self, record: dict, q: list[tuple], k: int) -> list[tuple]:
        """The driver arm of ``_top_docs``: every query scored against the
        held doc vectors in one call of the BLAS kernel's numpy body, then
        cut in ``grouped_top_k``'s order — score descending, NULL last,
        article_id ascending. The kernel's rules carry over: a NULL doc
        vector (or NULL query) scores NULL, a zero or NaN one 0.0."""
        ids, vecs = self._doc_tier(record)
        live = [j for j, (_, _, v) in enumerate(q) if v is not None]
        scores = np.full((len(ids), len(q)), np.nan)  # NaN marks a NULL score
        if live and ids:
            # looked up at call time, so a wrapper installed on the module is seen
            kernel = vectorized.multi_query_scores_udf([q[j][2] for j in live]).func
            per_doc = kernel(vecs)
            scored = per_doc.notna().to_numpy()
            if scored.any():
                scores[np.ix_(scored, live)] = np.stack(per_doc[scored].tolist())
        id_rank = np.arange(len(ids))  # the tier holds its ids ascending
        out = []
        for j, (qid, _, qvec) in enumerate(q):
            s = scores[:, j]
            null = np.isnan(s)
            order = np.lexsort((id_rank, -np.where(null, 0.0, s), null))[:k]
            out += [
                (qid, qvec, ids[i], None if null[i] else float(s[i])) for i in order
            ]
        return out

    def _doc_tier(self, record: dict) -> tuple[list, pd.Series]:
        """The doc vectors of ``record`` held on the driver: the ids
        ascending, and the rows of one float64 matrix as the kernel's
        input series (None for a NULL vector). Kept while the record's
        live file list is unchanged; rebuilt on a miss by one bounded
        Arrow collect of exactly those files."""
        key = [f["path"] for f in record["files"]]
        if self._tier is None or self._tier[0] != key:
            pdf = to_pandas_bounded(
                read_files(self.spark, self.doc_vectors_path, record).select(
                    ARTICLE_ID, "embedding"
                ),
                sum(f["rows"] for f in record["files"]),
                "doc-vector tier",
            ).sort_values(ARTICLE_ID)
            null = pdf["embedding"].isna().to_numpy()
            embs = pdf["embedding"][~null].tolist()
            mat = np.zeros((len(pdf), len(embs[0]) if embs else 0))
            if embs:
                mat[~null] = np.stack(embs)
            vecs = pd.Series(list(mat), dtype=object)
            vecs[null] = None
            self._tier = (key, pdf[ARTICLE_ID].tolist(), vecs)
        return self._tier[1], self._tier[2]

    def _ranked_chunks(self, ids: list) -> DataFrame:
        """Q2's input: the chunks of the ranked articles only — a batch
        lookup whose bucket ids fold on the driver and prune the record's
        file list (no job)."""
        return read_upsert_table(
            self.spark, self.chunks_path, key_equals={ARTICLE_ID: ids}
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
        the UI (k=5 docs, 1 paragraph, app.py:113,118). ``highlight=False``
        returns the top documents without reading a chunk (Q4)."""
        q = self._encode_queries(queries)
        top, ids = self._top_docs(q, docs_per_query)
        if not highlight:
            return _with_query_text(top.select("query_id", ARTICLE_ID, "doc_score"), q)
        # looked up at call time, so a wrapper installed on the module is seen
        out = search.highlight_with_context(
            self._ranked_chunks(ids), top, paragraphs_per_document, context_window
        )
        return _with_query_text(out, q)

    def _kernel(self) -> str:
        """The kernel of the over-fence arm, resolved at plan time from
        the engine's OWN dim (no peek job): the reference's real width
        (768, qdrant.py:74) scores through the Arrow/BLAS matmul; narrow
        test dims keep the bit-exact Catalyst fold. Under the fence
        (``fits_driver``: the doc table's rows × dim float64s within the
        session's broadcast threshold) no Spark kernel runs — the
        driver tier scores with the BLAS kernel's numpy body, cached per
        engine and keyed by the doc table's live file list. The results
        are rank-stable across the arms (rounded-score equivalence is
        test-pinned); callers hashing exact floats use the operators
        directly with kernel='hof'."""
        return resolve_kernel(self.dim)

    def query_html(
        self,
        queries: str | list[str],
        docs_per_query: int = 5,
        paragraphs_per_document: int = 1,
    ) -> DataFrame:
        """responses.py rendering: <mark>-wrapped context, article link."""
        q = self._encode_queries(queries)
        top, ids = self._top_docs(q, docs_per_query)
        chunks = self._ranked_chunks(ids)
        hits = highlight_chunks(chunks, top, paragraphs_per_document)
        return _with_query_text(render_hits(hits, chunks), q)


def _with_query_text(df: DataFrame, q: list[tuple]) -> DataFrame:
    """``query_text`` by ``query_id`` from the driver's list — a literal
    array lookup, not a join."""
    texts = F.array(*[F.lit(t).cast("string") for _, t, _ in q])
    return df.withColumn("query_text", F.element_at(texts, F.col("query_id") + 1))
