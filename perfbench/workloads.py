"""The two closed-loop workloads, their answer checks and their per-layer
metrics. One client issues the next call only after the previous one
returned and its rows were collected.

- ``live``: writes beside reads on a bucket-partitioned store through the
  ``SemanticSearchEngine`` facade. One step is a small upload (new
  articles plus edited and shortened re-uploads) followed by a query
  batch: one call with 16 texts, five with 1 text, and one
  ``query_html`` call.
- ``curate``: LLM-data curation of a corpus with planted duplicates:
  ``exact_dedup`` → ``near_dup_minhash`` → ``assign_components`` →
  ``lloyd_kmeans`` → ``semantic_dedup``. One step is one full pass.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen
from spans import REPLAY_GROUP, EventLog, Replayer, Tracer, scan_rows, self_time

DIM = 768            # the reference model's width; the engine picks the BLAS kernel
BUCKETS = 16         # partition_buckets of the live store
K_DOCS = 5
PARAGRAPHS = 2
SCORE_TOL = 1e-6     # BLAS, fold and numpy scores differ in the last ulps

MINHASH = dict(n_hashes=24, bands=12, min_jaccard=0.5)
KMEANS_K = 8
SEM_MIN_COSINE = 0.95


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Workload:
    """Shared shape: ``setup()``, then ``step(i)`` returns
    (seconds, items, ops attempted, ops failed); ``trace_step`` runs the
    replays of the spans a traced step recorded."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.replay = Replayer(spark.sparkContext)
        self.failures: list[str] = []
        self.setup_parts: dict[str, float] = {}

    def fail(self, what: str) -> None:
        if len(self.failures) < 20:
            self.failures.append(what)

    def final_check(self) -> tuple[int, int]:
        """End-of-run checks: (ops attempted, ops failed)."""
        return 0, 0

    def timed(self, name: str, fn, **attrs):
        t0 = time.perf_counter()
        with self.tracer.span(name, **attrs) as rec:
            out = fn()
        dt = time.perf_counter() - t0
        if rec is not None:
            rec["rows"] = len(out) if isinstance(out, list) else None
        return out, dt


# --------------------------------------------------------------------- live


class Live(Workload):
    name = "live"

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        from pubmed_central_semantic_search_spark.api import SemanticSearchEngine

        self.inputs = gen.live_inputs(seed)
        self.engine = SemanticSearchEngine(
            spark, os.path.join(work, "store"), encoder="fake", dim=DIM, partition_buckets=BUCKETS
        )
        self.state: dict[str, tuple] = {}
        self.ref: dict[str, np.ndarray] = {}
        self.commits: list[dict] = []
        self.upload_s: list[float] = []
        self.query_s: list[float] = []
        self.queries_answered = 0
        self.articles_committed = 0

    # -- inputs and reference -------------------------------------------

    def _frame(self, articles):
        from pubmed_central_semantic_search_spark.schemas import ARTICLES_SCHEMA

        pdf = pd.DataFrame(
            [(a, n, s, None) for a, n, s in articles],
            columns=["article_id", "section_names", "sections", "abstract_text"],
        )
        return self.spark.createDataFrame(pdf, ARTICLES_SCHEMA)

    def _remember(self, articles) -> None:
        from pubmed_central_semantic_search_spark.encoder import fake_encode_matrix

        for a in articles:
            self.state[a[0]] = a
            paras = [p for sec in a[2] for p in sec]
            self.ref[a[0]] = fake_encode_matrix(paras, DIM).astype(np.float64).mean(axis=0)

    def setup(self) -> None:
        from pubmed_central_semantic_search_spark.sources.catalog import read_upsert_table

        t = time.perf_counter()
        self.engine.reset_database()
        self.engine.upload_articles(self._frame(self.inputs.preload))
        self.setup_parts["preload_s"] = time.perf_counter() - t
        for a in self.inputs.preload:
            self.state[a[0]] = a
        # the reference ranking scores against the doc vectors as stored
        t = time.perf_counter()
        for r in read_upsert_table(self.spark, self.engine.doc_vectors_path).select(
            "article_id", "embedding"
        ).collect():
            self.ref[r["article_id"]] = np.asarray(r["embedding"], dtype=np.float64)
        if set(self.ref) != set(self.state):
            raise RuntimeError("live set-up: stored doc vectors do not match the preload")
        self.setup_parts["reference_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self._query(self.inputs.warm_batch, html=False)
        self._query([self.inputs.warm_html], html=True)
        self.setup_parts["warm_queries_s"] = time.perf_counter() - t

    # -- calls ----------------------------------------------------------

    def _query(self, texts, html: bool):
        if html:
            return self.engine.query_html(texts, docs_per_query=K_DOCS, paragraphs_per_document=PARAGRAPHS).collect()
        return self.engine.query(
            texts, docs_per_query=K_DOCS, highlight=True, paragraphs_per_document=PARAGRAPHS
        ).collect()

    def step(self, i: int):
        st = self.inputs.steps[i % len(self.inputs.steps)]
        frame = self._frame(st.upload)
        ctx = self._listing()
        _, up = self.timed(
            "api.upload", lambda: self.engine.upload_articles(frame),
            articles=len(st.upload), step=i,
        )
        self._remember(st.upload)
        self._record_commit(ctx, st.upload)
        failed = 0 if self._check_lookup(st) else 1
        self.upload_s.append(up)
        self.articles_committed += len(st.upload)
        total = up
        calls = (
            [("q16", st.batch, False)]
            + [("q1", [t], False) for t in st.singles]
            + [("html", [st.html], True)]
        )
        for kind, texts, html in calls:
            rows, dt = self.timed("api.query", lambda: self._query(texts, html), kind=kind)
            total += dt
            self.query_s.append(dt)
            self.queries_answered += len(texts)
            ok = self._check_query(texts, rows, html)
            if kind == "q16" and ok:
                aimed = {r["article_id"] for r in rows if r["query_id"] == len(texts) - 1}
                if st.aimed not in aimed:
                    self.fail(f"step {i}: aimed article {st.aimed} missing from its query's hits")
                    ok = False
            failed += 0 if ok else 1
        return total, len(st.upload), 1 + len(calls), failed

    # -- checks ---------------------------------------------------------

    def _check_query(self, texts, rows, html: bool) -> bool:
        from pubmed_central_semantic_search_spark.encoder import fake_encode_matrix

        ids = sorted(self.ref)
        mat = np.stack([self.ref[a] for a in ids])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        q = fake_encode_matrix(list(texts), DIM).astype(np.float64)
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        scores = q @ mat.T
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        ok = True
        for qi in range(len(texts)):
            got = by_q.get(qi, [])
            hit = {r["article_id"]: r["doc_score"] for r in got}
            s = scores[qi]
            kth = np.sort(s)[-K_DOCS]
            must = {ids[j] for j in np.nonzero(s > kth + SCORE_TOL)[0]}
            pos = {a: s[ids.index(a)] if a in self.ref else None for a in hit}
            if (
                len(hit) != K_DOCS
                or not must <= set(hit)
                or any(v is None or v < kth - SCORE_TOL or abs(v - hit[a]) > SCORE_TOL for a, v in pos.items())
            ):
                self.fail(f"query {texts[qi]!r}: top-{K_DOCS} {sorted(hit)} disagrees with the numpy ranking")
                ok = False
                continue
            for r in got:
                if not self._check_context(r, html):
                    ok = False
        return ok

    def _check_context(self, r, html: bool) -> bool:
        _, names, sections = self.state[r["article_id"]]
        if r["section_name"] not in names:
            self.fail(f"{r['article_id']}: highlighted section {r['section_name']!r} not in the article")
            return False
        sec = sections[names.index(r["section_name"])]
        pid = r["paragraph_id"]
        if not 0 <= pid < len(sec):
            self.fail(f"{r['article_id']}: paragraph {pid} outside its section")
            return False
        want = sec[max(0, pid - 1) : pid + 2]
        got = r["most_relevant_html"].split("\n") if html else list(r["context_paragraphs"])
        if got != want:
            self.fail(f"{r['article_id']}: context of paragraph {pid} is not its ±1 neighbourhood")
            return False
        return True

    def _check_lookup(self, st) -> bool:
        """Point lookup of the re-uploaded articles: the new text is there
        and paragraphs dropped by a shortened re-upload are gone."""
        from pubmed_central_semantic_search_spark.sources.catalog import read_upsert_table

        ids = [a[0] for a in st.upload[gen.LIVE_NEW_PER_STEP :]]
        rows = read_upsert_table(
            self.spark, self.engine.chunks_path, key_equals={"article_id": ids}
        ).select("article_id", "section_name", "paragraph_id", "paragraph").collect()
        got = {(r[0], r[1], r[2], r[3]) for r in rows}
        want = {
            (aid, name, p, text)
            for aid in ids
            for name, sec in zip(self.state[aid][1], self.state[aid][2])
            for p, text in enumerate(sec)
        }
        if got != want:
            self.fail(f"point lookup of {ids}: {len(got ^ want)} chunk rows differ from the upload")
            return False
        return True

    def final_check(self) -> tuple[int, int]:
        """Row counts of both tables equal what the generator's articles
        imply: one chunk per paragraph, one doc vector per article."""
        from pubmed_central_semantic_search_spark.sources.catalog import read_upsert_table

        got = (
            read_upsert_table(self.spark, self.engine.chunks_path).count(),
            read_upsert_table(self.spark, self.engine.doc_vectors_path).count(),
        )
        want = (sum(len(p) for a in self.state.values() for p in a[2]), len(self.state))
        if got != want:
            self.fail(f"table rows (chunks, doc_vectors) {got} != expected {want}")
            return 1, 1
        return 1, 0

    # -- storage bookkeeping ----------------------------------------------

    def _tables(self):
        return (self.engine.chunks_path, self.engine.doc_vectors_path)

    def _listing(self):
        return {t: _data_files(t) for t in self._tables()}

    def _record_commit(self, before, articles) -> None:
        after = self._listing()
        chunks = sum(len(p) for a in articles for p in a[2])
        rows = {
            self.engine.chunks_path: (chunks, sum(len(p) for a in self.state.values() for p in a[2])),
            self.engine.doc_vectors_path: (len(articles), len(self.state)),
        }
        for t in self._tables():
            added = {p: s for p, s in after[t].items() if before[t].get(p) != s}
            batch_rows, table_rows = rows[t]
            table_bytes = sum(after[t].values())
            self.commits.append(
                {
                    "table": os.path.basename(t),
                    "files_added": len(added),
                    "bytes_added": sum(added.values()),
                    "batch_bytes": table_bytes * batch_rows / max(table_rows, 1),
                }
            )

    def latency_s(self) -> list[float]:
        """Read calls: ``query``/``query_html`` with rows collected."""
        return self.query_s

    def text_bytes(self) -> int:
        return sum(len(p.encode()) for a in self.state.values() for sec in a[2] for p in sec)

    def detail(self) -> dict:
        up, qs = self.upload_s, self.query_s
        stored = sum(_dir_bytes(t) for t in self._tables())
        return {
            "upload_p50_s": statistics.median(up) if up else None,
            "query_p50_s": statistics.median(qs) if qs else None,
            "articles_per_s": self.articles_committed / sum(up) if up else None,
            "queries_per_s": self.queries_answered / sum(qs) if qs else None,
            "stored_bytes_per_text_byte": stored / max(self.text_bytes(), 1),
            "upload_s": up,
            "query_s": qs,
        }

    # -- tracing ----------------------------------------------------------

    def instrument(self) -> None:
        import pubmed_central_semantic_search_spark.api as api
        import pubmed_central_semantic_search_spark.operators.search as search
        import pubmed_central_semantic_search_spark.operators.vectorized as vectorized

        t = self.tracer
        t.patch(api, "explode_chunks", "chunking", keep_io=True)
        t.patch(api, "encode_column", "encoder", keep_io=True)
        t.patch(api, "mean_pool", "pooling", keep_io=True)
        t.patch(api, "upsert_parquet", "catalog.upsert",
                attrs=lambda spark, df, path, *a, **k: {"table": os.path.basename(path)})
        t.patch(api, "read_upsert_table", "catalog.read", keep_io=True)
        t.patch(api, "semantic_search", "search")
        t.patch(api, "score_documents", "search.score_documents", keep_io=True)
        t.patch(api, "highlight_chunks", "search.highlight", keep_io=True)
        t.patch(api, "render_hits", "render", keep_io=True)
        t.patch(search, "score_documents", "search.score_documents", keep_io=True)
        t.patch(search, "highlight_with_context", "search.highlight", keep_io=True)
        t.patch(vectorized, "multi_query_scores_udf", "vectorized", keep_io=True)

    def trace_step(self, spans: list[dict]) -> None:
        """Stage-isolated replays of the lazy layers a traced step called."""
        from pyspark.sql import functions as F

        R = self.replay
        R.reset()
        by_id = {s["id"]: s for s in spans}
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in spans:
            io = s.pop("io", None)
            if io is None:
                continue
            args, kwargs, out = io
            name = s["name"]
            if name == "chunking":
                s["busy"] = R.busy(out, args[0])
                s["_out"] = out
            elif name == "pooling":
                s["busy"] = R.busy(out, args[0])
            elif name == "catalog.read":
                s["busy"] = R.time(out)
            elif name == "search.score_documents":
                s["busy"] = R.busy(out, args[0])
                s["_dv"] = args[0]
            elif name == "search.highlight":
                s["busy"] = R.busy(out, args[1], args[0])
            elif name == "render":
                s["busy"] = R.busy(out, args[0], args[1])
            else:
                s["_io"] = (args, kwargs, out)
        for s in spans:
            io = s.pop("_io", None)
            if io is None:
                continue
            args, kwargs, out = io
            siblings = kids.get(s["parent"], [])
            if s["name"] == "encoder":
                chunk = next((c.get("_out") for c in siblings if c["name"] == "chunking"), None)
                if chunk is not None:
                    s["busy"] = R.busy(chunk.withColumn("embedding", out), chunk)
            elif s["name"] == "vectorized":
                parent = by_id.get(s["parent"])
                dv = parent.get("_dv") if parent else None
                if dv is not None:
                    s["busy"] = R.busy(dv.select(out(F.col("embedding"))), dv)
        for s in spans:
            s.pop("_out", None)
            s.pop("_dv", None)
        # the chunk and doc-vector writes execute the fused upstream stages
        for s in spans:
            if s["name"] != "catalog.upsert":
                continue
            up = [c for c in kids.get(s["parent"], [])]
            if s.get("table") == "chunks":
                fused = sum(c.get("busy", 0.0) for c in up if c["name"] in ("chunking", "encoder"))
            else:
                fused = sum(c.get("busy", 0.0) for c in up if c["name"] == "pooling")
            s["fused_s"] = fused
        R.reset()

    def layer_metrics(self, spans, log: EventLog) -> dict:
        return live_layers(spans, log, self)


def _index(spans):
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def below(s):
        out, todo = [], list(kids.get(s["id"], []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(kids.get(c["id"], []))
        return out

    return kids, below


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def live_layers(spans, log: EventLog, wl: Live) -> dict:
    kids, below = _index(spans)
    incl = lambda s: log.totals([s["group"]] + [c["group"] for c in below(s)])  # noqa: E731
    st = lambda s: self_time(s, kids.get(s["id"], []))  # noqa: E731
    uploads = _named(spans, "api.upload")
    queries = _named(spans, "api.query")
    up_t = [incl(s) for s in uploads]
    q_t = [incl(s) for s in queries]
    reads = _named(spans, "catalog.read")
    upserts = _named(spans, "catalog.upsert")
    n_up = max(len(uploads), 1)
    m: dict[str, float] = {}
    m["api.upload.s"] = _mean(st(s) for s in uploads)
    m["api.query.s"] = _mean(st(s) for s in queries)
    m["api.upload.jobs"] = _mean(t["jobs"] for t in up_t)
    m["api.query.jobs"] = _mean(t["jobs"] for t in q_t)
    m["catalog.read.s"] = _mean(st(s) + s.get("busy", 0.0) for s in reads)
    m["catalog.read.jobs"] = _mean(incl(s)["jobs"] for s in reads)
    m["catalog.upsert.s"] = _mean(max(0.0, st(s) - s.get("fused_s", 0.0)) for s in upserts)
    m["catalog.upsert.jobs"] = _mean(incl(s)["jobs"] for s in upserts)
    commits = wl.commits
    batch = sum(c["batch_bytes"] for c in commits)
    m["catalog.upsert.bytes_rewritten_per_batch_byte"] = sum(c["bytes_added"] for c in commits) / batch if batch else 0.0
    m["catalog.upsert.files_rewritten"] = _mean(c["files_added"] for c in commits)
    m["catalog.upsert.conflicts"] = float(
        sum(1 for s in upserts if s.get("error") in ("ConcurrentUpsertError", "LockLostError"))
    )
    m["catalog.table.files"] = float(sum(len(_data_files(t)) for t in wl._tables()))
    m["catalog.stored_bytes_per_text_byte"] = sum(_dir_bytes(t) for t in wl._tables()) / max(wl.text_bytes(), 1)
    arts = sum(s.get("articles", 0) for s in uploads)
    enc_rows = sum(t["python_rows"] for t in up_t)
    chunks = sum(
        sum(len(p) for p in a[2])
        for s in uploads
        for a in wl.inputs.steps[s["step"] % len(wl.inputs.steps)].upload
    ) if uploads else 0
    m["chunking.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "chunking")) / n_up
    m["chunking.chunks_per_article"] = chunks / arts if arts else 0.0
    m["encoder.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "encoder")) / n_up
    m["encoder.rows_encoded"] = enc_rows / n_up
    m["encoder.python_bytes"] = sum(t["python_bytes"] for t in up_t) / n_up
    m["encoder.encode_once_ratio"] = chunks / enc_rows if enc_rows else 0.0
    m["pooling.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "pooling")) / n_up
    vec_up = [incl(s) for s in upserts if s.get("table") == "doc_vectors"]
    read_chunks = sum(scan_rows(t, wl.engine.chunks_path) for t in vec_up)
    m["pooling.rows_read_per_batch_chunk"] = read_chunks / chunks if chunks else 0.0
    n_q = max(len(queries), 1)
    m["search.score_documents.s"] = sum(
        st(s) + s.get("busy", 0.0) for s in _named(spans, "search.score_documents")
    ) / n_q
    m["search.highlight.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "search.highlight")) / n_q
    read_jobs = sum(incl(s)["jobs"] for s in reads if any(q["id"] == _root(s, spans)["id"] for q in queries))
    m["search.jobs"] = (sum(t["jobs"] for t in q_t) - read_jobs) / n_q
    m["search.shuffle_bytes"] = sum(t["shuffle_write_bytes"] for t in q_t) / n_q
    results = sum(s.get("rows") or 0 for s in queries)
    m["search.docs_scored_per_result"] = (
        sum(scan_rows(t, wl.engine.doc_vectors_path) for t in q_t) / results if results else 0.0
    )
    m["search.chunks_scored_per_result"] = (
        sum(scan_rows(t, wl.engine.chunks_path) for t in q_t) / results if results else 0.0
    )
    m["vectorized.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "vectorized")) / n_q
    m["vectorized.python_bytes"] = sum(t["python_bytes"] for t in q_t) / n_q
    html = [s for s in queries if s.get("kind") == "html"]
    m["render.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "render")) / max(len(html), 1)
    return m


def _root(s, spans):
    by_id = {x["id"]: x for x in spans}
    while s["parent"] is not None and s["parent"] in by_id:
        s = by_id[s["parent"]]
    return s


# ------------------------------------------------------------------- curate


class Curate(Workload):
    name = "curate"

    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        self.inputs = gen.curate_inputs(seed)
        self.docs = None
        self.pass_s: list[float] = []

    def _frame(self, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "emb"])
        return self.spark.createDataFrame(pdf, "doc_id long, text string, emb array<double>")

    def setup(self) -> None:
        t = time.perf_counter()
        self.docs = self._frame(self.inputs.rows).persist()
        self.docs.count()
        self.setup_parts["persist_s"] = time.perf_counter() - t
        # the first pass in a session costs about 1.5 passes (JIT, codegen,
        # worker start); it is the warm-up
        t = time.perf_counter()
        self._pass(self.docs)
        self.setup_parts["warm_pass_s"] = time.perf_counter() - t

    def _pass(self, docs):
        from pubmed_central_semantic_search_spark.operators import clustering, dedup
        from pubmed_central_semantic_search_spark.session import release_cached_deps

        ex = dedup.exact_dedup(docs, ["text"], "doc_id")
        pairs = dedup.near_dup_minhash(ex, "doc_id", "text", **MINHASH)
        lab = dedup.assign_components(
            ex.select("doc_id"), "doc_id", pairs.select("id_a", "id_b"), check_every=2
        )
        lex = lab.collect()
        survivors = ex.join(lab.filter("is_survivor").select("doc_id"), "doc_id")
        _, cents = clustering.lloyd_kmeans(
            survivors, k=KMEANS_K, n_iter=2, id_col="doc_id", vec_col="emb", dim=gen.CURATE_DIM
        )
        sem = dedup.semantic_dedup(
            survivors, cents, id_col="doc_id", vec_col="emb", min_cosine=SEM_MIN_COSINE, check_every=2
        )
        rows = sem.select("doc_id", "cluster_id", "component", "is_survivor").collect()
        release_cached_deps(sem)
        release_cached_deps(pairs)
        return lex, cents, rows

    def step(self, i: int):
        (lex, cents, sem), dt = self.timed("curate.pass", lambda: self._pass(self.docs))
        self.pass_s.append(dt)
        ok = self._check(lex, cents, sem)
        return dt, len(self.inputs.rows), 1, 0 if ok else 1

    # -- checks ---------------------------------------------------------

    def _check(self, lex, cents, sem) -> bool:
        text = {r[0]: r[1] for r in self.inputs.rows}
        first: dict[str, int] = {}
        for doc_id in sorted(text):
            first.setdefault(text[doc_id], doc_id)
        rep = {d: first[t] for d, t in text.items()}
        ok = True
        if {r["doc_id"] for r in lex} != set(first.values()):
            self.fail("exact_dedup survivors differ from the first id of each distinct text")
            return False
        ok &= self._components(
            "chain", lex, [{rep[d] for d in c} for c in self.inputs.chains], text, allow_linked=True
        )
        survivors = {r["doc_id"] for r in lex if r["is_survivor"]}
        if {r["doc_id"] for r in sem} != survivors:
            self.fail("semantic_dedup input rows differ from the lexical survivors")
            return False
        # semantic_dedup compares documents within one k-means cluster only:
        # a planted group that straddles clusters is one component per cluster
        cluster = {r["doc_id"]: r["cluster_id"] for r in sem}
        parts = [
            {d for d in g if cluster.get(d) == c}
            for g in self.inputs.groups
            for c in {cluster.get(d) for d in g}
        ]
        ok &= self._components("group", sem, parts, text, allow_linked=False)
        if not 1 <= len(cents) <= KMEANS_K or any(len(v) != gen.CURATE_DIM for _, v in cents):
            self.fail(f"lloyd_kmeans returned {len(cents)} centroids of the wrong shape")
            ok = False
        return ok

    def _components(self, what, rows, planted, text, allow_linked: bool) -> bool:
        comp = {r["doc_id"]: r["component"] for r in rows}
        members: dict[int, set[int]] = {}
        surv: dict[int, int] = {}
        for r in rows:
            members.setdefault(r["component"], set()).add(r["doc_id"])
            surv[r["component"]] = surv.get(r["component"], 0) + bool(r["is_survivor"])
        if any(n != 1 for n in surv.values()):
            self.fail(f"{what}: a component without exactly one survivor")
            return False
        seen = set()
        for p in planted:
            cs = {comp.get(d) for d in p}
            if len(cs) != 1 or None in cs:
                self.fail(f"{what} {sorted(p)} split over components {sorted(map(str, cs))}")
                return False
            c = cs.pop()
            if c in seen:
                self.fail(f"{what} {sorted(p)} merged with another planted {what}")
                return False
            seen.add(c)
            extra = members[c] - p
            if extra and not (allow_linked and self._linked(extra, members[c], text)):
                self.fail(f"{what} {sorted(p)} absorbed unrelated documents {sorted(extra)[:5]}")
                return False
        return True

    @staticmethod
    def _linked(extra, component, text) -> bool:
        """Every extra member has 3-gram Jaccard ≥ min_jaccard with some
        other member: the near-duplicate link is real, not an error."""
        sh = {d: gen.shingle_set(text[d]) for d in component}
        for d in extra:
            if not any(
                len(sh[d] & sh[o]) / max(len(sh[d] | sh[o]), 1) >= MINHASH["min_jaccard"]
                for o in component
                if o != d
            ):
                return False
        return True

    def latency_s(self) -> list[float]:
        return self.pass_s

    def detail(self) -> dict:
        ps = self.pass_s
        return {
            "curate_docs_per_s": len(self.inputs.rows) * len(ps) / sum(ps) if ps else None,
            "pass_s": ps,
        }

    # -- tracing ----------------------------------------------------------

    def instrument(self) -> None:
        from pubmed_central_semantic_search_spark.operators import clustering, dedup

        t = self.tracer
        t.patch(dedup, "exact_dedup", "dedup.exact", keep_io=True)
        t.patch(dedup, "near_dup_minhash", "dedup.minhash", keep_io=True)
        t.patch(dedup, "assign_components", "dedup.components")
        t.patch(dedup, "connected_components", "dedup.cc")
        t.patch(dedup, "semantic_dedup", "dedup.semantic", keep_io=True)
        t.patch(clustering, "lloyd_kmeans", "clustering.kmeans")
        # one localCheckpoint per large/small-star round, plus the entry one;
        # patched on the concrete DataFrame class, which overrides the base
        DataFrame = type(self.docs)
        original = DataFrame.localCheckpoint

        def counting(df, *args, **kwargs):
            for rec in reversed(t.stack):
                if rec["name"] == "dedup.cc":
                    rec["checkpoints"] = rec.get("checkpoints", 0) + 1
                    break
            return original(df, *args, **kwargs)

        DataFrame.localCheckpoint = counting
        t._patched.append((DataFrame, "localCheckpoint", original))

    def trace_step(self, spans: list[dict]) -> None:
        from pubmed_central_semantic_search_spark.operators import dedup
        from pubmed_central_semantic_search_spark.session import release_cached_deps

        R = self.replay
        R.reset()
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        for s in spans:
            io = s.pop("io", None)
            if io is None:
                continue
            args, kwargs, out = io
            if s["name"] != "dedup.minhash":
                s["busy"] = R.busy(out, args[0])
                continue
            # The pass released the persists near_dup_minhash attaches to
            # its result, so replaying that result would recompute each
            # persisted view once per join side. A fresh call on the same
            # input fills them on its first action, as the pass did.
            fresh = dedup.near_dup_minhash.__wrapped__(*args, **kwargs)
            s["busy"] = R.busy(fresh, args[0])
            sc.setLocalProperty("spark.jobGroup.id", REPLAY_GROUP)
            try:
                s["candidates"] = dedup.minhash_candidate_pairs(
                    args[0], "doc_id", "text",
                    n_hashes=MINHASH["n_hashes"], bands=MINHASH["bands"],
                ).count()
                s["verified"] = fresh.count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
                release_cached_deps(fresh)
        R.reset()

    def layer_metrics(self, spans, log: EventLog) -> dict:
        kids, below = _index(spans)
        by_id = {s["id"]: s for s in spans}
        incl = lambda s: log.totals([s["group"]] + [c["group"] for c in below(s)])  # noqa: E731
        st = lambda s: self_time(s, kids.get(s["id"], []))  # noqa: E731
        passes = max(len(_named(spans, "curate.pass")), 1)
        m: dict[str, float] = {}
        m["dedup.exact.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "dedup.exact")) / passes
        mh = _named(spans, "dedup.minhash")
        m["dedup.minhash.s"] = sum(s.get("busy", 0.0) + st(s) for s in mh) / passes
        cand = sum(s.get("candidates", 0) for s in mh)
        m["dedup.minhash.candidates"] = cand / passes
        m["dedup.minhash.verified_ratio"] = sum(s.get("verified", 0) for s in mh) / cand if cand else 0.0
        cc = _named(spans, "dedup.cc")
        lazy_up = sum(s.get("busy", 0.0) for s in _named(spans, "dedup.exact") + mh)

        def cc_self(s):
            # the lexical CC's first action runs the exact and minhash plans
            parent = by_id.get(s["parent"])
            grand = by_id.get(parent["parent"]) if parent else None
            lexical = grand is not None and grand["name"] == "curate.pass"
            return st(s) - (lazy_up / passes if lexical else 0.0)

        m["dedup.cc.s"] = max(0.0, sum(cc_self(s) for s in cc)) / passes
        m["dedup.cc.rounds"] = _mean(max(0, s.get("checkpoints", 1) - 1) for s in cc)
        m["dedup.cc.jobs"] = _mean(incl(s)["jobs"] for s in cc)
        m["dedup.semantic.s"] = sum(s.get("busy", 0.0) + st(s) for s in _named(spans, "dedup.semantic")) / passes
        km = _named(spans, "clustering.kmeans")
        m["clustering.kmeans.s"] = sum(st(s) for s in km) / passes
        m["clustering.kmeans.jobs"] = _mean(incl(s)["jobs"] for s in km)
        return m


WORKLOADS = {"live": Live, "curate": Curate}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
