"""ANN quality + plan-shape tests.

The oracle (queries_ann) pins determinism; these tests pin the two
things an oracle can't: recall on clustered data (the regime LSH is
for) and the bucketed plan shape (no all-pairs operator anywhere).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from merkonvectordb_spark.operators.ann import (
    ann_index,
    embedding_near_pairs,
    knn_batch_ann,
)
from merkonvectordb_spark.operators.search import knn_batch
from merkonvectordb_spark.plans import executed_plan


@pytest.fixture(scope="module")
def clustered(spark):
    """20 clusters × 6 unit vectors, ~4° intra-cluster spread — the shape
    of real text/image embedding corpora."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(20, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(6):
            v = c + rng.normal(scale=0.05, size=64)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_ann_recall_on_clustered_data(clustered):
    queries = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(clustered, queries, k=3, min_score=-1.0, tie_break="vec_id")
    approx = knn_batch_ann(clustered, queries, k=3, min_score=-1.0)
    want = {(r.query_id, r.vec_id) for r in exact.collect()}
    got = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"clustered-data recall {recall:.2f} < 0.9"


def test_ann_probes_fraction_of_corpus(clustered):
    # candidate sets must be bucket-bounded: each query probing its own
    # buckets must touch well under the full corpus
    idx = ann_index(clustered, "vec_id")
    sizes = (
        idx.groupBy("table_id", "bucket").count().agg(F.max("count")).first()[0]
    )
    assert sizes < 40  # 120 rows / 64 buckets, clustered: max bucket ≈ cluster
    plan = executed_plan(
        knn_batch_ann(clustered, clustered.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"), k=3)
    )
    assert "CartesianProduct" not in plan


def test_embedding_near_pairs_finds_planted(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(30, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant near-identical copies of ids 0..4
    for i in range(5):
        v = base[i] + rng.normal(scale=0.005, size=64)
        v /= np.linalg.norm(v)
        rows.append((100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id LONG, emb ARRAY<FLOAT>")
    pairs = {(r.a, r.b) for r in
             embedding_near_pairs(df, threshold=0.99, id_col="id", emb_col="emb").collect()}
    assert {(i, 100 + i) for i in range(5)} <= pairs
    assert all(b >= 100 for _, b in pairs)  # no false positives among randoms


def test_ivf_recall_on_clustered_data(clustered, spark):
    from merkonvectordb_spark.operators.ann import knn_batch_ivf

    # centroids: one seed vector per cluster (vec_id % 6 == 3)
    cents = clustered.where(F.col("vec_id") % 6 == 3).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    queries = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(clustered, queries, k=3, min_score=-1.0, tie_break="vec_id")
    approx = knn_batch_ivf(
        clustered, queries, k=3, centroids=cents, n_probe=2, min_score=-1.0
    )
    want = {(r.query_id, r.vec_id) for r in exact.collect()}
    got = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, f"IVF clustered-data recall {recall:.2f} < 0.9"


def _ivf_cents(clustered):
    return clustered.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )


def test_ivf_assign_rejects_carry_with_n_best_before_planning(clustered):
    """carry with n_best>1 is refused on entry: an unknown carried
    column would otherwise fail analysis first and hide the real error."""
    from merkonvectordb_spark.operators.ann import ivf_assign

    with pytest.raises(ValueError, match="n_best=1"):
        ivf_assign(
            clustered, _ivf_cents(clustered), "vec_id", n_best=2,
            carry=("no_such_col",),
        )


@pytest.mark.parametrize("name", ["cid", "cv", "__cos", "__b"])
def test_ivf_assign_rejects_carry_colliding_with_internal_columns(
    clustered, name
):
    from merkonvectordb_spark.operators.ann import ivf_assign

    df = clustered.withColumn(name, F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        ivf_assign(df, _ivf_cents(clustered), "vec_id", carry=(name,))


def test_kmeans_refine_improves_quantization(clustered, spark):
    from merkonvectordb_spark.operators.ann import ivf_assign, kmeans_refine
    from merkonvectordb_spark.functions.vector import cosine_similarity

    # deliberately BAD seeds: 6 vectors from the same cluster
    seeds = clustered.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )

    def mean_best_cos(cents):
        scored = (
            clustered.crossJoin(F.broadcast(cents))
            .withColumn("c", cosine_similarity(F.col("embedding"), F.col("cv")))
            .groupBy("vec_id")
            .agg(F.max("c").alias("best"))
        )
        return scored.agg(F.avg("best")).first()[0]

    before = mean_best_cos(seeds)
    refined = kmeans_refine(clustered, seeds, "vec_id", "embedding", iterations=3)
    after = mean_best_cos(refined)
    assert after > before + 0.05, f"refinement did not improve: {before:.3f} -> {after:.3f}"
    # refined centroids keep original cid labels (a subset of seeds)
    cids = {r.cid for r in refined.select("cid").collect()}
    assert cids <= set(range(6)) and len(cids) >= 1


def test_ivf_recall_cost_curve(clustered, spark):
    """The scale dial: recall must be non-decreasing in n_probe and hit
    1.0 at n_probe = K (probing every list IS the exact search), while
    candidate count — the actual cost — grows with n_probe.  This is
    the curve an operator of the 100 TB engine tunes against."""
    from merkonvectordb_spark.operators.ann import ivf_assign, knn_batch_ivf

    cents = clustered.where(F.col("vec_id") % 6 == 3).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    queries = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(clustered, queries, k=3, min_score=-1.0, tie_break="vec_id")
    want = {(r.query_id, r.vec_id) for r in exact.collect()}

    recalls, costs = [], []
    for n_probe in (1, 2, 20):
        got = {
            (r.query_id, r.vec_id)
            for r in knn_batch_ivf(
                clustered, queries, k=3, centroids=cents,
                n_probe=n_probe, min_score=-1.0,
            ).collect()
        }
        recalls.append(len(want & got) / len(want))
        probes = ivf_assign(
            queries, cents, "query_id", n_best=n_probe
        ).withColumnRenamed("query_id", "__qid")
        assign = ivf_assign(clustered, cents, "vec_id", n_best=1)
        costs.append(
            probes.join(assign, "cid").select("__qid", "vec_id").distinct().count()
        )
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert costs == sorted(costs), f"cost not monotone: {costs}"
    assert recalls[-1] == 1.0, "n_probe=K must be exact"
    assert costs[0] < costs[-1], "probing fewer lists must cost less"


def test_lsh_recall_grows_with_tables(clustered):
    """More hash tables → more candidate unions → recall non-decreasing
    (each table is an independent chance to co-bucket true neighbors)."""
    from merkonvectordb_spark.operators.ann import HYPERPLANES

    queries = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(clustered, queries, k=3, min_score=-1.0, tie_break="vec_id")
    want = {(r.query_id, r.vec_id) for r in exact.collect()}

    recalls = []
    for n_tables in (1, 4, len(HYPERPLANES)):
        got = {
            (r.query_id, r.vec_id)
            for r in knn_batch_ann(
                clustered, queries, k=3, min_score=-1.0,
                planes=HYPERPLANES[:n_tables],
            ).collect()
        }
        recalls.append(len(want & got) / len(want))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[0] < 1.0 or recalls == [1.0] * 3


def test_sq8_codes_bounded_and_dequant_in_envelope(clustered):
    from merkonvectordb_spark.operators.ann import (
        sq8_codes,
        sq8_dequant,
        sq8_stats,
    )

    mn, mx = sq8_stats(clustered)
    assert len(mn) == 64 and all(a <= b for a, b in zip(mn, mx))
    codes_df = clustered.select(
        sq8_codes(F.col("embedding"), mn, mx).alias("codes"),
        sq8_dequant(
            sq8_codes(F.col("embedding"), mn, mx), mn, mx
        ).alias("dq"),
    )
    for row in codes_df.collect():
        assert all(0.0 <= c <= 255.0 and c == int(c) for c in row.codes)
        for i, v in enumerate(row.dq):
            half = (mx[i] - mn[i]) / 255.0  # midpoint offset ≤ one step
            assert mn[i] - 1e-9 <= v <= mx[i] + half + 1e-9


def test_sq8_full_refine_equals_exact(clustered):
    """With refine large enough to keep every corpus row, the re-rank
    sees all candidates — SQ8 must reproduce the exact top-k."""
    from merkonvectordb_spark.operators.ann import knn_batch_sq8

    qset = clustered.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id, r.score)
        for r in knn_batch(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id", "score"
        ).collect()
    }
    sq8 = {
        (r.query_id, r.vec_id, r.score)
        for r in knn_batch_sq8(
            clustered, qset, k=3, refine=1000, min_score=0.0
        ).select("query_id", "vec_id", "score").collect()
    }
    assert sq8 == exact


def test_sq8_recall_monotone_in_refine(clustered):
    from merkonvectordb_spark.operators.ann import knn_batch_sq8

    qset = clustered.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_batch(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id"
        ).collect()
    }

    def recall(refine):
        got = {
            (r.query_id, r.vec_id)
            for r in knn_batch_sq8(
                clustered, qset, k=3, refine=refine, min_score=0.0
            ).select("query_id", "vec_id").collect()
        }
        return len(got & exact) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    # 8-bit quantization error is tiny relative to 4° cluster spread:
    # the refined pass should recover the exact top-k on this corpus
    assert r4 >= 0.9


def test_hard_negatives_band_and_no_self(clustered):
    from merkonvectordb_spark.operators.ann import hard_negatives

    qset = clustered.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = hard_negatives(
        clustered, qset, m=5, lo=0.05, hi=0.95
    ).collect()
    assert len(rows) > 0
    for r in rows:
        # the anchor itself (cos = 1) and near-dups sit above hi
        assert r.query_id != r.vec_id
        assert 0.05 <= r.score < 0.95
    # bounded per query
    from collections import Counter

    per_q = Counter(r.query_id for r in rows)
    assert all(v <= 5 for v in per_q.values())


def _mmr_inputs(clustered):
    from merkonvectordb_spark.functions.vector import cosine_similarity
    from pyspark.sql import Window

    qset = F.broadcast(
        clustered.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qv"),
        )
    )
    scored = (
        clustered.crossJoin(qset)
        .withColumn("qs", cosine_similarity(F.col("embedding"), F.col("__qv")))
        .where(F.col("qs").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qs"), F.asc("vec_id"))
    cand = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 12)
        .select("query_id", "vec_id", "embedding", "qs")
    )
    a = cand.select("query_id", F.col("vec_id").alias("a"), F.col("embedding").alias("__ea"))
    b = cand.select("query_id", F.col("vec_id").alias("b"), F.col("embedding").alias("__eb"))
    psim = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .withColumn("sim", cosine_similarity(F.col("__ea"), F.col("__eb")))
        .select("query_id", "a", "b", "sim")
    )
    return cand, psim


def test_mmr_diversifies_vs_plain_topk(clustered):
    """On the clustered corpus, plain top-4 for a query returns its own
    cluster (6 near-identical members); MMR at lambda=0.5 must break out
    of the cluster, giving a lower max pairwise similarity."""
    from merkonvectordb_spark.operators.search import mmr_rerank

    cand, psim = _mmr_inputs(clustered)
    topk_ids = [
        r.vec_id
        for r in cand.orderBy(F.desc("qs"), F.asc("vec_id")).limit(4).collect()
    ]
    mmr_ids = [
        r.vec_id
        for r in sorted(
            mmr_rerank(
                cand.select("query_id", "vec_id", "qs"), psim, k=4, lam=0.5
            ).collect(),
            key=lambda r: r.sel_rank,
        )
    ]
    sims = {(r.a, r.b): r.sim for r in psim.collect()}

    def max_pair(ids):
        return max(
            sims[(x, y)] for x in ids for y in ids if x != y
        )

    # rank-1 seed is the relevance top-1 in both
    assert mmr_ids[0] == topk_ids[0] == 0
    assert max_pair(mmr_ids) < max_pair(topk_ids)


def test_mmr_lambda_one_reduces_to_topk(clustered):
    from merkonvectordb_spark.operators.search import mmr_rerank

    cand, psim = _mmr_inputs(clustered)
    topk = [
        r.vec_id
        for r in cand.orderBy(F.desc("qs"), F.asc("vec_id")).limit(4).collect()
    ]
    mmr = {
        r.sel_rank: r.vec_id
        for r in mmr_rerank(
            cand.select("query_id", "vec_id", "qs"), psim, k=4, lam=1.0
        ).collect()
    }
    assert [mmr[i] for i in sorted(mmr)] == topk


def test_grouped_centroids_and_outliers(spark):
    """Centroid = exact elementwise mean (rounded); outliers = bottom-k
    by own-centroid cosine with id tie-break."""
    from merkonvectordb_spark.operators.embedding_stats import (
        centroid_outliers,
        grouped_centroids,
    )

    rows = [
        (1, "x", [1.0, 0.0]),
        (2, "x", [1.0, 0.2]),
        (3, "x", [-1.0, 0.0]),   # the outlier in group x
        (4, "y", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id LONG, g STRING, embedding ARRAY<FLOAT>")
    cents = {r.g: r.centroid for r in grouped_centroids(df, "g").collect()}
    assert cents["y"] == [0.0, 1.0]
    assert cents["x"][0] == round(1 / 3, 6)
    out = centroid_outliers(df, "g", "id", k=1).collect()
    worst = {r.g: r.id for r in out}
    assert worst["x"] == 3 and worst["y"] == 4


def test_semantic_dedup_cluster_pruning(clustered):
    from merkonvectordb_spark.operators.ann import kmeans_refine, semantic_dedup

    # seed one member per true cluster, one Lloyd pass to settle
    seeds = clustered.where(F.col("vec_id") % 6 == 0).select(
        (F.col("vec_id") / 6).cast("long").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    cents = kmeans_refine(clustered, seeds, iterations=1).localCheckpoint()

    # tau above any cosine: nothing is a duplicate, everything survives
    all_kept = semantic_dedup(clustered, cents, tau=1.01)
    assert all_kept.where(~F.col("kept")).count() == 0
    assert all_kept.count() == 120

    out = semantic_dedup(clustered, cents, tau=0.9).cache()
    per = out.groupBy("cid").agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = per.collect()
    # every cluster keeps at least one member; tight 4-degree clusters
    # at tau=0.9 prune most of each
    assert all(r.n_kept >= 1 for r in rows)
    assert out.where(F.col("kept")).count() < 120

    # the per-cluster best-priority member (lowest cent_sim, then lowest
    # id) can never be beaten, hence is always kept
    best = (
        out.groupBy("cid")
        .agg(F.min(F.struct("cent_sim", F.col("vec_id").alias("v"))).alias("b"))
        .select("cid", F.col("b.v").alias("vec_id"))
    )
    best_kept = out.join(best, ["cid", "vec_id"]).where(~F.col("kept"))
    assert best_kept.count() == 0


def test_semantic_dedup_cluster_size_guard_bounds_pairs(spark):
    """VERDICT r5 #6: one skewed mega-cluster must not go quadratic.
    Plant 400 near-identical vectors (all land in one cluster of a
    2-centroid quantizer) and run with ``max_cluster_size=25``: the
    pairwise stage's bucket key (cid, __sub, __hsp) must cap every
    bucket near the limit — pair count Σ|b|² ≪ 400² — while the dedup
    outcome stays near-total (≈one bucket-best survivor per bucket)."""
    from merkonvectordb_spark.operators.ann import (
        _split_oversized_clusters,
        semantic_dedup,
    )
    from merkonvectordb_spark.functions.vector import l2_normalize

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(400):
        v = base + rng.normal(scale=0.001, size=64)  # ~0.06° spread
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    # 20 far-away rows for the second centroid: an under-cap cluster
    far = -base
    for i in range(400, 420):
        v = far + rng.normal(scale=0.001, size=64)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    cents = spark.createDataFrame(
        [(0, [float(x) for x in base]), (1, [float(x) for x in far])],
        "cid LONG, cv ARRAY<DOUBLE>",
    )

    # (1) bucket-size bound, asserted on the split frame directly
    assigned = (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "__cos",
            F.aggregate(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    "cv",
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("__cos").alias("c"), F.col("cid"))).alias("b"),
            F.first("embedding").alias("__e"),
        )
        .select(
            "vec_id",
            F.col("b.cid").alias("cid"),
            F.col("b.c").alias("__csim"),
            "__e",
        )
        .withColumn("__eu", l2_normalize(F.col("__e")))
    )
    cap = 25
    split = _split_oversized_clusters(assigned, "vec_id", cap)
    buckets = split.groupBy("cid", "__sub", "__hsp").agg(
        F.count(F.lit(1)).alias("n")
    )
    brows = buckets.collect()
    # the mega-cluster must shatter into many buckets; hash-free
    # sub-centroid splitting of a near-identical blob can skew, so the
    # assertion is on PAIR WORK (the quadratic resource), not max |b|:
    # Σ|b|² must be far below the unguarded 400²
    pair_work = sum(r.n * r.n for r in brows)
    assert len(brows) > 5
    assert pair_work < 400 * 400 / 4, (pair_work, sorted(r.n for r in brows))
    # the under-cap cluster must be untouched: one bucket, sub=hsp=0
    small = [r for r in brows if r.cid == 1]
    assert len(small) == 1 and small[0].n == 20
    assert small[0]["__sub"] == 0 and small[0]["__hsp"] == 0

    # (2) end-to-end semantics with the guard on: every row classified,
    # ≥1 survivor per bucket, and near-total dedup of the blob
    out = semantic_dedup(
        corpus, cents, tau=0.99, max_cluster_size=cap
    ).cache()
    assert out.count() == 420
    n_kept_blob = out.where((F.col("cid") == 0) & F.col("kept")).count()
    n_buckets_blob = len([r for r in brows if r.cid == 0])
    # each bucket keeps exactly its best-priority member here (all
    # pairwise cosines in the blob exceed tau)
    assert n_kept_blob == n_buckets_blob
    # guard off: the same dedup keeps exactly ONE of the 400
    out_exact = semantic_dedup(corpus, cents, tau=0.99)
    assert (
        out_exact.where((F.col("cid") == 0) & F.col("kept")).count() == 1
    )
    out.unpersist()


def test_semantic_dedup_exact_twin_tiebreak(clustered):
    from merkonvectordb_spark.operators.ann import semantic_dedup

    twin = clustered.where(F.col("vec_id") == 0).select(
        F.lit(999).cast("long").alias("vec_id"), "embedding"
    )
    corpus = clustered.unionByName(twin)
    cents = clustered.where(F.col("vec_id") % 6 == 0).select(
        (F.col("vec_id") / 6).cast("long").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    out = semantic_dedup(corpus, cents, tau=0.999)
    got = {r.vec_id: r.kept for r in out.where(F.col("vec_id").isin(0, 999)).collect()}
    # identical vectors: identical cent_sim, so the id tie-break keeps 0
    assert got[0] is True and got[999] is False


def test_semantic_dedup_capped_oracle_preconditions():
    """``semantic_dedup_capped``'s DuckDB oracle replays the cap's
    keep-rule assuming two fixture properties, pinned here on every
    driver SF so a fixture regeneration can't silently break parity:

      (a) no member of an oversized cluster has two seeds at EXACTLY
          equal unit dot — the engine breaks such ties by hash
          (``_split_oversized_clusters``), the oracle by seed_idx; with
          zero ties the orders are vacuously identical;
      (b) no cluster exceeds cap*64, so the engine's residual
          ``xxhash64 % hfan`` split (``__hsp``) stays 0, matching the
          oracle's omission of it.
    """
    import duckdb

    import __spark_entry__  # noqa: F401 — registration-order dependency
    from merkonvectordb_spark import queries_ann as QA
    from merkonvectordb_spark.operators import ann as A

    # CTE prefixes of the committed oracle: through `assign`/`uem`, and
    # through `seeds` (for the tie probe)
    through_uem = (
        QA._SEMDEDUP_CAPPED_ORACLE.split("osize AS")[0].rstrip().rstrip(",")
    )
    through_seeds = (
        QA._SEMDEDUP_CAPPED_ORACLE.split("sub AS")[0].rstrip().rstrip(",")
    )
    for sf in ("0.001", "0.01", "0.1"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        )
        dup = con.execute(
            through_uem
            + "\nSELECT count(*) - count(DISTINCT CAST(emb AS VARCHAR)) "
            "FROM ce"
        ).fetchone()[0]
        assert dup == 0, f"sf{sf}: byte-identical corpus embeddings"
        mx = con.execute(
            through_uem
            + "\nSELECT max(cnt) FROM "
            "(SELECT cid, count(*) AS cnt FROM assign GROUP BY cid)"
        ).fetchone()[0]
        assert mx <= QA.SEMDEDUP_CAP * A.SEMDEDUP_MAX_SUBCENTROIDS, (
            f"sf{sf}: cluster of {mx} engages the residual hash split"
        )
        ties = con.execute(
            through_seeds
            + """
SELECT count(*) FROM (
  SELECT vec_id FROM (
    SELECT a.vec_id, list_dot_product(u.ue, s.sv) AS d,
           max(list_dot_product(u.ue, s.sv))
             OVER (PARTITION BY a.vec_id) AS md
    FROM assign a
    JOIN osize o USING (cid)
    JOIN uem u ON u.vec_id = a.vec_id
    JOIN seeds s ON s.scid = a.cid)
  WHERE d = md GROUP BY vec_id HAVING count(*) > 1)
"""
        ).fetchone()[0]
        assert ties == 0, f"sf{sf}: {ties} members with tied argmax seeds"


def test_semantic_dedup_guard_shatters_exact_duplicate_cluster(spark):
    """Regression (r6 review): a cluster of BYTE-IDENTICAL embeddings
    ties on every seed dot, so a seed-index tie-break would send all
    n rows to sub-centroid 1 — and with cap < n ≤ 64·cap the residual
    hash fan is 1, making the guard a no-op and the pairwise stage
    quadratic.  The per-(member, seed) hash tie-break must spread exact
    ties uniformly: plant 400 identical vectors (cap=25, well inside
    the 64·cap window) and assert bounded pair work."""
    from merkonvectordb_spark.functions.vector import l2_normalize
    from merkonvectordb_spark.operators.ann import (
        _split_oversized_clusters,
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    vec = [float(x) for x in base]
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(400)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    cents = spark.createDataFrame(
        [(0, [float(x) for x in base])], "cid LONG, cv ARRAY<DOUBLE>"
    )
    assigned = corpus.select(
        "vec_id",
        F.lit(0).cast("long").alias("cid"),
        F.lit(1.0).alias("__csim"),
        F.col("embedding").alias("__e"),
        l2_normalize(F.col("embedding")).alias("__eu"),
    )
    cap = 25
    split = _split_oversized_clusters(assigned, "vec_id", cap)
    brows = split.groupBy("cid", "__sub", "__hsp").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    pair_work = sum(r.n * r.n for r in brows)
    assert len(brows) > 5, brows
    assert pair_work < 400 * 400 / 4, (pair_work, sorted(r.n for r in brows))
    # end to end: every row classified, one best-priority survivor per
    # bucket (identical vectors: every within-bucket pair exceeds tau)
    out = semantic_dedup(corpus, cents, tau=0.99, max_cluster_size=cap)
    assert out.count() == 400
    assert out.where(F.col("kept")).count() == len(brows)


# ---------------------------------------------------------------------------
# product quantization (PQ/ADC)
# ---------------------------------------------------------------------------


def test_pq_codes_shape_and_range(clustered):
    from merkonvectordb_spark.operators.ann import (
        PQ_K,
        PQ_M,
        pq_codebook,
        pq_codes,
    )

    cb = pq_codebook(clustered)
    assert len(cb) == PQ_M and len(cb[0]) == PQ_K
    rows = clustered.select(
        pq_codes("embedding", cb).alias("codes")
    ).collect()
    for r in rows:
        assert len(r.codes) == PQ_M
        assert all(1 <= c <= PQ_K for c in r.codes)


def test_pq_full_refine_equals_exact(clustered):
    from merkonvectordb_spark.operators.ann import knn_batch_pq

    qset = clustered.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id, r.score)
        for r in knn_batch(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id", "score"
        ).collect()
    }
    pq = {
        (r.query_id, r.vec_id, r.score)
        for r in knn_batch_pq(
            clustered, qset, k=3, refine=1000, min_score=0.0
        ).select("query_id", "vec_id", "score").collect()
    }
    assert pq == exact


def test_pq_recall_at_default_refine(clustered):
    """ADC with the seeded codebook on clustered data: recall@3 of the
    default-refine search should be high — the approx ranking only has
    to surface the true neighbors into the k·refine pool."""
    from merkonvectordb_spark.operators.ann import knn_batch_pq

    qset = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_batch(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id"
        ).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in knn_batch_pq(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id"
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.7


def test_ivfpq_recall_and_subset_of_probed_lists(clustered):
    """IVF-PQ returns only vectors from probed lists, with decent recall
    on clustered data (query's own cluster is always probed first)."""
    from merkonvectordb_spark.operators.ann import (
        IVF_N_PROBE,
        ivf_assign,
        knn_batch_ivfpq,
        pq_codebook,
    )

    cents = clustered.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    qset = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # a copy of query 0's vector without an id: it would top query 0,
    # but no answer can name it
    no_id = clustered.where(F.col("vec_id") == 0).select(
        F.lit(None).cast("long").alias("vec_id"), "embedding"
    )
    got = knn_batch_ivfpq(
        clustered.union(no_id), qset, k=3, centroids=cents, min_score=0.0,
        cb=pq_codebook(clustered, "vec_id", "embedding"),
    ).collect()
    assert all(r.vec_id is not None for r in got)
    # membership: every hit must come from one of the query's probed lists
    assign = {
        r.vec_id: r.cid
        for r in ivf_assign(clustered, cents, "vec_id").collect()
    }
    probed = {}
    for r in ivf_assign(qset, cents, "query_id", n_best=IVF_N_PROBE).collect():
        probed.setdefault(r.query_id, set()).add(r.cid)
    for r in got:
        assert assign[r.vec_id] in probed[r.query_id]
    # recall vs exact
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_batch(clustered, qset, k=3, min_score=0.0).select(
            "query_id", "vec_id"
        ).collect()
    }
    hits = {(r.query_id, r.vec_id) for r in got}
    assert len(hits & exact) / len(exact) >= 0.6


def test_semantic_decontam_invariants(spark, sf_dir):
    """Registered embedding-decontamination screen: one row per valid
    training vector, best eval id from the eval range, flag consistent
    with the (raw, pre-rounding) threshold within rounding slack, and
    deterministic across runs."""
    import __spark_entry__ as entry
    from merkonvectordb_spark.queries_ann import _SEM_DECON_THRESHOLD

    q = entry.queries()["semantic_decontam"]
    rows = {r["vec_id"]: r for r in q(spark, sf_dir).collect()}
    assert rows, "empty decontamination report"
    assert all(r["eval_id"] < 25 for r in rows.values())
    assert all(r["vec_id"] >= 25 for r in rows.values())
    for r in rows.values():
        # rounded score vs raw-threshold flag: consistent within 1e-6
        if r["best_score"] >= _SEM_DECON_THRESHOLD + 1e-6:
            assert r["contaminated"]
        if r["best_score"] < _SEM_DECON_THRESHOLD - 1e-6:
            assert not r["contaminated"]
    again = {r["vec_id"]: r for r in q(spark, sf_dir).collect()}
    assert rows == again


def test_semantic_decontam_flags_exact_copy(spark, sf_dir):
    """A training vector that IS an eval vector scores 1.0 and must be
    flagged with that eval id (the planted-contamination case)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from merkonvectordb_spark.operators import ann as A
    from merkonvectordb_spark.schema import load_table

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.size("embedding") == A.DIM
    )
    ev0 = emb.where(F.col("vec_id") == 0).first()
    assert ev0 is not None
    # the screen's own math on a planted copy: cosine(e, e) == 1.0
    from merkonvectordb_spark.functions.vector import cosine_similarity

    df = spark.createDataFrame(
        [(ev0["embedding"], ev0["embedding"])], "a array<float>, b array<float>"
    ).select(cosine_similarity(F.col("a"), F.col("b")).alias("c"))
    c = df.first()["c"]
    assert abs(c - 1.0) < 1e-9


def test_pca_power_iteration_finds_planted_direction(spark):
    """A strongly dominant direction (λ1 ≫ λ2) must be recovered in 3
    iterations: λ1 within 2% of numpy's exact top eigenvalue, and
    anisotropy high."""
    from merkonvectordb_spark.operators.embedding_stats import (
        pca_power_iteration,
    )

    rng = np.random.default_rng(7)
    d, n = 16, 400
    direction = rng.normal(size=d)
    direction /= np.linalg.norm(direction)
    X = rng.normal(scale=0.05, size=(n, d)) + np.outer(
        rng.normal(scale=1.0, size=n), direction
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    row = pca_power_iteration(df, "embedding", dim=d, iters=3).first()
    Yq = np.floor(np.float32(X).astype(np.float64) * 10000 + 0.5) / 10000.0
    C = np.cov(Yq.T, bias=True)
    lam_true = float(np.linalg.eigvalsh(C)[-1])
    assert row["n_vecs"] == n
    assert abs(row["lambda1"] - lam_true) / lam_true < 0.02
    assert row["anisotropy"] > 0.8
    assert abs(row["total_var"] - C.trace()) < 1e-4


def test_pca_power_iteration_filters_wrong_dims(spark):
    from merkonvectordb_spark.operators.embedding_stats import (
        pca_power_iteration,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [1.0, 0.0, 0.0])],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    assert pca_power_iteration(df, "embedding", dim=2).first()["n_vecs"] == 2


def test_multiprobe_recall_dominates_single_probe(clustered):
    """Hamming-1 probe expansion: candidates are a SUPERSET of the
    single-probe candidates (the exact bucket is probed too), so
    multi-probe recall can never be lower — and on clustered data it
    should reach exact-recall territory."""
    from merkonvectordb_spark.operators.ann import knn_batch_ann_multiprobe

    queries = clustered.where(F.col("vec_id") % 6 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_batch(clustered, queries, k=3, min_score=-1.0, tie_break="vec_id")
    single = knn_batch_ann(clustered, queries, k=3, min_score=-1.0)
    multi = knn_batch_ann_multiprobe(clustered, queries, k=3, min_score=-1.0)
    want = {(r.query_id, r.vec_id) for r in exact.collect()}
    got_s = {(r.query_id, r.vec_id) for r in single.collect()}
    got_m = {(r.query_id, r.vec_id) for r in multi.collect()}
    rec_s = len(want & got_s) / len(want)
    rec_m = len(want & got_m) / len(want)
    assert rec_m >= rec_s
    assert rec_m >= 0.95, f"multi-probe recall {rec_m:.2f} < 0.95"


def test_ann_ndcg_report_bounds_and_null_gain(spark):
    """nDCG@10 invariants at sf0.001 + the element_at NULL-index trap:
    Spark's element_at(arr, NULL) resolves to an element (observed: the
    last) instead of NULL — the query must use try_element_at so an ANN
    hit absent from the exact list contributes gain 0, not a phantom."""
    # via the registry: queries_ann's recall/ndcg oracle builders need
    # the knn_batch oracle registered first (module import order)
    import __spark_entry__ as entry

    rows = entry.queries()["ann_ndcg_report"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        # the query itself is always its own top hit: grade-10 at
        # position 1 floors dcg at 1023000000 micro
        assert r.dcg_micro >= 1023000000, r
        assert 0 < r.dcg_micro <= r.idcg_micro, r
        assert 0.0 < r.ndcg <= 1.0, r

    # the trap itself, pinned: element_at must NOT be reintroduced
    arr = F.array(*[F.lit(g) for g in (1023, 1)])
    df = spark.createDataFrame([(None,), (1,)], "i INT")
    got = {
        r.i: r.g
        for r in df.select(
            "i",
            F.coalesce(
                F.try_element_at(arr, F.col("i")), F.lit(0)
            ).alias("g"),
        ).collect()
    }
    assert got == {None: 0, 1: 1023}


def test_embedding_near_pairs_candidate_guard(spark):
    """Round 8: a dense cluster collides into one LSH bucket per table,
    so the verify join goes quadratic even when the cluster sits BELOW
    the output threshold (measured: 205M candidates -> 2,313 outputs at
    sf10).  max_candidates must raise loudly from the bucket-size bound
    BEFORE the join; a generous bound must leave output unchanged."""
    import numpy as np
    import pytest as _pytest

    from merkonvectordb_spark.operators.ann import embedding_near_pairs
    from merkonvectordb_spark.operators.dedup import PairExplosionError

    rng = np.random.default_rng(7)
    center = rng.normal(size=64)
    rows = []
    for i in range(60):  # dense cluster: ~59*60/2 bucket pairs per table
        v = center + rng.normal(scale=0.01, size=64)
        rows.append((i, [float(x) for x in v]))
    for i in range(10):  # sparse background
        v = rng.normal(size=64)
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "id LONG, emb ARRAY<FLOAT>")

    with _pytest.raises(PairExplosionError, match="max_candidates=500"):
        embedding_near_pairs(
            df, threshold=0.999, id_col="id", emb_col="emb", max_candidates=500
        )
    unguarded = embedding_near_pairs(
        df, threshold=0.999, id_col="id", emb_col="emb"
    ).count()
    guarded = embedding_near_pairs(
        df, threshold=0.999, id_col="id", emb_col="emb", max_candidates=10**9
    ).count()
    assert unguarded == guarded
