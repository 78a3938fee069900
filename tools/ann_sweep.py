#!/usr/bin/env python
"""ANN recall-vs-cost sweep: every index variant in the family, same
corpus, same query batch, one table (VERDICT r7 #6's suggested
deepening).  For each variant: wall time (best of N noop-write runs,
the bench.py methodology) and recall@10 against the exact top-10 —
the two axes an operator actually trades when picking an index for a
100 TB corpus.  The variants' scale levers differ (LSH/IVF prune ROWS,
SQ8/PQ shrink BYTES per row, IVF-PQ composes both), so wall time at
sf0.1 is a proxy; the cost-model column names the lever that dominates
at scale.

Usage: python tools/ann_sweep.py [sf_dir]   (default $SPARK_GRAFT_SF_DIR
or /root/testdata/sf0.1).  Markdown table to stdout, diagnostics to
stderr.  Diagnostic, not a gate.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_QUERIES = 20
K = 10
RUNS = 2


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from pyspark.sql import functions as F

    from merkonvectordb_spark import free_persisted_blocks, get_spark
    from merkonvectordb_spark.functions.vector import l2_norm
    from merkonvectordb_spark.operators import ann as A
    from merkonvectordb_spark.operators.search import knn_batch
    from merkonvectordb_spark.schema import load_table

    spark = get_spark("ann_sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.size("embedding") == A.DIM)
        .where(l2_norm(F.col("embedding")) > 0)
    )
    n_corpus = emb.count()
    qset = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = emb.where(F.col("vec_id") < A.IVF_K).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    print(f"corpus={n_corpus} queries={N_QUERIES} k={K} sf_dir={sf_dir}", file=sys.stderr)

    def ivf_kmeans_cents():
        refined = A.kmeans_refine(emb, cents, iterations=2)
        return refined.localCheckpoint(eager=True)

    variants: list[tuple[str, str, object]] = [
        # (name, scale lever at 100 TB, builder)
        ("exact", "full scan (baseline)",
         lambda: knn_batch(emb, qset, k=K, min_score=0.0)),
        ("lsh", "rows: bucket join, candidates only",
         lambda: A.knn_batch_ann(emb, qset, k=K, min_score=0.0)),
        ("lsh_multiprobe", "rows: +hamming-1 probes, same index",
         lambda: A.knn_batch_ann_multiprobe(emb, qset, k=K, min_score=0.0)),
        ("ivf_probe1", "rows: ~1/16 of corpus per query",
         lambda: A.knn_batch_ivf(emb, qset, k=K, centroids=cents, n_probe=1, min_score=0.0)),
        ("ivf_probe2", "rows: ~2/16 of corpus per query",
         lambda: A.knn_batch_ivf(emb, qset, k=K, centroids=cents, n_probe=2, min_score=0.0)),
        ("ivf_probe4", "rows: ~4/16 of corpus per query",
         lambda: A.knn_batch_ivf(emb, qset, k=K, centroids=cents, n_probe=4, min_score=0.0)),
        ("ivf_probe8", "rows: ~8/16 of corpus per query",
         lambda: A.knn_batch_ivf(emb, qset, k=K, centroids=cents, n_probe=8, min_score=0.0)),
        ("ivf_kmeans_probe4", "rows: refined lists, ~4/16 per query",
         None),  # built below (needs the refined centroids materialized)
        ("sq8", "bytes: int8 codes, 8x smaller scan",
         lambda: A.knn_batch_sq8(emb, qset, k=K, min_score=0.0)),
        ("pq", "bytes+flops: M-byte codes, ADC lookups",
         lambda: A.knn_batch_pq(emb, qset, k=K, min_score=0.0)),
        ("pq_refine16", "bytes+flops: same codes, 4x wider re-rank",
         lambda: A.knn_batch_pq(emb, qset, k=K, refine=16, min_score=0.0)),
        ("ivfpq", "rows AND bytes composed",
         lambda: A.knn_batch_ivfpq(emb, qset, k=K, centroids=cents, min_score=0.0)),
        ("ivfpq_refine16", "rows AND bytes, 4x wider re-rank",
         lambda: A.knn_batch_ivfpq(emb, qset, k=K, centroids=cents, refine=16, min_score=0.0)),
    ]

    # exact ground truth, collected once
    truth: dict[int, set[int]] = {}
    for r in knn_batch(emb, qset, k=K, min_score=0.0).select("query_id", "vec_id").collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)
    free_persisted_blocks(spark)

    rows = []
    refined_cents = None
    for name, lever, build in variants:
        if name == "ivf_kmeans_probe4":
            refined_cents = ivf_kmeans_cents()
            rc = refined_cents
            build = lambda: A.knn_batch_ivf(  # noqa: E731
                emb, qset, k=K, centroids=rc, n_probe=4, min_score=0.0
            )
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        got: dict[int, set[int]] = {}
        for r in build().select("query_id", "vec_id").collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        recs = [
            len(truth[q] & got.get(q, set())) / len(truth[q])
            for q in truth
            if truth[q]
        ]
        recall = sum(recs) / len(recs) if recs else 0.0
        rows.append((name, best, recall, lever))
        print(f"  {name}: {best:.2f}s recall@{K}={recall:.3f}", file=sys.stderr)
        spark.catalog.clearCache()
        free_persisted_blocks(spark)

    print(f"| variant | wall s (sf_dir={sf_dir}) | recall@{K} | 100 TB lever |")
    print("|---|---|---|---|")
    for name, best, recall, lever in rows:
        print(f"| {name} | {best:.2f} | {recall:.3f} | {lever} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
