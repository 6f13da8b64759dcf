#!/usr/bin/env python
"""Round-14 stage decomposition of the x768 pack (guide §1: decompose
first). Times each entry's internal stages in one session with the noop
sink / the entry's own action, clearing the cache between probes.

    python tools/x768_decomp_r14.py [--sf /root/testdata/sf0.1]

Prints one JSON line {probe: seconds}.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pubmed_central_semantic_search_spark.session import get_spark
    from pubmed_central_semantic_search_spark.registry import QUERY_VEC, load
    from pubmed_central_semantic_search_spark.queries.dim768 import (
        DIM,
        _multiq_768,
        corpus_768,
        widen_list,
    )

    spark = get_spark(app_name="pmc-x768-decomp")
    sf = args.sf
    out: dict[str, float] = {}

    def probe(name, fn, n=3):
        # warm once, then min-of-n with cache cleared
        fn()
        best = None
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        spark.catalog.clearCache()
        out[name] = round(best, 4)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # --- shared derivations -------------------------------------------------
    probe("emb64_scan", lambda: noop(load(spark, sf, "embeddings")))
    probe("corpus768_widen_catalyst", lambda: noop(corpus_768(spark, sf)))

    def persist_768():
        emb = corpus_768(spark, sf).persist()
        emb.count()
        emb.unpersist()

    probe("corpus768_persist_fill", persist_768)

    # --- pca_fit ------------------------------------------------------------
    from pubmed_central_semantic_search_spark.operators.projection import (
        pca_fit,
        pca_project,
        project_vec,
    )

    probe("pca_fit_768_on_widen", lambda: pca_fit(corpus_768(spark, sf), "embedding", out_dim=32))

    def fit_on_persisted():
        emb = corpus_768(spark, sf).persist()
        pca_fit(emb, "embedding", out_dim=32)
        emb.unpersist()

    probe("pca_fit_768_persist_first", fit_on_persisted)

    # --- projection + variance tail (x768_pca_whiten's second half) ---------
    def proj_var():
        emb = corpus_768(spark, sf)
        model = _MODEL[0]
        proj = pca_project(emb, model, "embedding", whiten=True)
        (
            proj.select(F.posexplode("proj").alias("component", "value"))
            .groupBy("component")
            .agg(F.round(F.var_samp("value"), 4).alias("variance"))
            .orderBy("component")
            .collect()
        )

    _MODEL = [pca_fit(corpus_768(spark, sf), "embedding", out_dim=32)]
    probe("pca_project_plus_var", proj_var)

    # --- serving stack internals --------------------------------------------
    from pubmed_central_semantic_search_spark.operators.clustering import (
        lloyd_kmeans,
        seed_centroids,
    )
    from pubmed_central_semantic_search_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
        train_pq,
    )

    model64 = pca_fit(corpus_768(spark, sf), "embedding", out_dim=64)

    def proj64():
        emb = corpus_768(spark, sf)
        return pca_project(emb, model64, "embedding", out_col="pvec", whiten=True).select("vec_id", "pvec")

    probe("ss_project64", lambda: noop(proj64()))

    def ss_kmeans():
        proj = proj64().persist()
        proj.count()
        train = proj.filter(F.col("vec_id") % 16 == 0)
        lloyd_kmeans(train, k=8, n_iter=1, id_col="vec_id", vec_col="pvec", dim=64)
        proj.unpersist()

    probe("ss_kmeans_train_after_persist", ss_kmeans)

    def ss_pq_train():
        proj = proj64().persist()
        proj.count()
        train_pq(proj.filter(F.col("vec_id") < 1000), m=8, ksub=16, dim=64, n_iter=1, vec_col="pvec")
        proj.unpersist()

    probe("ss_train_pq_after_persist", ss_pq_train)

    def ss_ivfpq():
        proj = proj64().persist()
        proj.count()
        qvec = project_vec(model64, widen_list(QUERY_VEC), whiten=True)
        train = proj.filter(F.col("vec_id") % 16 == 0)
        _, cents = lloyd_kmeans(train, k=8, n_iter=1, id_col="vec_id", vec_col="pvec", dim=64)
        books = train_pq(proj.filter(F.col("vec_id") < 1000), m=8, ksub=16, dim=64, n_iter=1, vec_col="pvec")
        t0 = time.perf_counter()
        cands = ivfpq_topk(proj, qvec, cents, books, k=30, nprobe=4, rerank=100, vec_col="pvec")
        cands.collect()
        out["ss_ivfpq_topk_only"] = round(time.perf_counter() - t0, 4)
        proj.unpersist()

    probe("ss_fit_plus_ivfpq", ss_ivfpq, n=1)

    # --- pq_search internals ------------------------------------------------
    def pq_train_only():
        emb = load(spark, sf, "embeddings")
        train_pq(emb.filter(F.col("vec_id") < 1000), m=8, ksub=16, dim=64, n_iter=1)

    probe("pqs_train_pq", pq_train_only)

    def pq_search_only():
        emb = load(spark, sf, "embeddings")
        books = train_pq(emb.filter(F.col("vec_id") < 1000), m=8, ksub=16, dim=64, n_iter=1)
        t0 = time.perf_counter()
        pq_topk(emb, QUERY_VEC, books, k=10, rerank=100).collect()
        out["pqs_pq_topk_only"] = round(time.perf_counter() - t0, 4)

    probe("pqs_train_plus_topk", pq_search_only, n=1)

    # --- multiq internals ---------------------------------------------------
    from pubmed_central_semantic_search_spark.operators.ann import brute_force_topk
    from pubmed_central_semantic_search_spark.session import local_df

    def multiq_hof():
        emb = corpus_768(spark, sf)
        qdf = local_df(spark, _multiq_768(), "query_id int, qvec array<double>")
        noop(brute_force_topk(emb, qdf, k=5))

    probe("multiq_hof_full", multiq_hof)

    # --- kmeans entries ------------------------------------------------------
    def km_seed():
        emb = corpus_768(spark, sf)
        seed_centroids(emb, k=8)

    probe("x768_seed_centroids", km_seed)

    def km_train():
        emb = corpus_768(spark, sf)
        train = emb.filter(F.col("vec_id") % 16 == 0).persist()
        lloyd_kmeans(train, k=8, n_iter=2, dim=DIM)
        train.unpersist()

    probe("x768_kmeans_train_only", km_train)

    print(json.dumps(out, separators=(",", ":")))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
