"""kNN operator: reference quirk parity (SURVEY §5.2.3) + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from merkonvectordb_spark.operators.search import knn, knn_batch

SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ingest_seq", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        ("c0", "a", [1.0, 0.0], 0),
        ("c0", "b", [0.9, 0.1], 1),
        ("c0", "c", [0.0, 1.0], 2),
        ("c0", "zero", [0.0, 0.0], 3),   # NaN score — must never surface
        ("c0", "", [1.0, 0.0], 4),       # empty key — purged (P4)
        ("c0", None, [1.0, 0.0], 5),     # null key — purged (P4)
        ("c0", "short", [1.0], 6),       # dim mismatch — excluded
        ("c0", "tie1", [2.0, 0.0], 7),   # same direction as 'a' — tie
        ("c0", "tie2", [3.0, 0.0], 8),   # tie; later ingest_seq loses
        ("c1", "other", [1.0, 0.0], 9),  # different collection
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_limit_nonpositive_returns_empty(corpus):
    # MerkonMemoryStore.cs:125-128
    assert knn(corpus, [1.0, 0.0], k=0).count() == 0
    assert knn(corpus, [1.0, 0.0], k=-3).count() == 0


def test_nan_and_bad_rows_excluded(corpus):
    keys = [r.key for r in knn(corpus, [1.0, 0.0], k=100, collection="c0").collect()]
    assert "zero" not in keys  # NaN fails inclusive >= (MerkonMemoryStore.cs:138)
    assert "" not in keys and None not in keys  # empty-key purge (P4)
    assert "short" not in keys  # dimension mismatch


def test_threshold_inclusive(corpus):
    # 'a'/'tie1'/'tie2' score exactly 1.0 — inclusive >= keeps them at t=1.0
    res = knn(corpus, [1.0, 0.0], k=10, min_score=1.0, collection="c0")
    keys = {r.key for r in res.collect()}
    assert keys == {"a", "tie1", "tie2"}


def test_threshold_filters_raw_not_rounded(corpus):
    # score('b') vs [1,0] ≈ 0.9938837 which ROUNDS to 0.993884 — the filter
    # must act on the raw score (MerkonMemoryStore.cs:138), so a threshold
    # of 0.993884 excludes 'b' even though round(score,6) == threshold
    res = knn(corpus, [1.0, 0.0], k=10, min_score=0.993884, collection="c0")
    keys = {r.key for r in res.collect()}
    assert "b" not in keys
    assert keys == {"a", "tie1", "tie2"}


def test_tie_break_by_ingest_seq(corpus):
    rows = knn(corpus, [1.0, 0.0], k=3, collection="c0").collect()
    assert [r.key for r in rows] == ["a", "tie1", "tie2"]  # score 1.0 ties → seq order
    assert all(r.score == 1.0 for r in rows)


def test_collection_filter_and_projection(corpus):
    rows = knn(corpus, [1.0, 0.0], k=10, collection="c1").collect()
    assert [r.key for r in rows] == ["other"]
    assert "embedding" not in rows[0].asDict()
    with_emb = knn(corpus, [1.0, 0.0], k=1, collection="c1", with_embeddings=True)
    assert "embedding" in with_emb.columns


def test_topk_plans_take_ordered(corpus):
    plan = knn(corpus, [1.0, 0.0], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_knn_batch_per_query_topk(spark, corpus):
    qs = spark.createDataFrame(
        [("q0", [1.0, 0.0]), ("q1", [0.0, 1.0])],
        T.StructType(
            [
                T.StructField("query_id", T.StringType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    out = knn_batch(corpus.where("collection = 'c0'"), qs, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.key)
    assert by_q["q0"] == ["a", "tie1"]
    assert by_q["q1"][0] == "c"
    assert all(len(v) == 2 for v in by_q.values())


def test_knn_batch_plans_bounded_window_limit(spark, corpus):
    """The corpus is scored by one Arrow kernel over its own scan — no
    cross join of any physical form — and the per-query top-k pushes a
    map-side partial group-limit below the exchange (WindowGroupLimit
    Partial), so only ≤ k rows (plus ties) per query per input partition
    move.  Without it the window funnels each query's full corpus score
    set through one reducer (the 100 TB scale-killer VERDICT r1
    flagged)."""
    qs = spark.createDataFrame(
        [("q0", [1.0, 0.0])],
        "query_id string, embedding array<float>",
    )
    for prenorm in (False, True):  # cosine and pre-normalized dot path
        plan = (
            knn_batch(corpus, qs, k=2, assume_normalized=prenorm)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "MapInArrow" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert not any(
            "BroadcastHashJoin" in line and "Cross" in line
            for line in plan.splitlines()
        )


def _cross_join_knn_batch(vectors, queries, k, min_score, assume_normalized):
    """The expression-form plan ``knn_batch`` replaced, kept as its
    reference: broadcast the query set, cross-join it onto the corpus,
    score each pair with the ``cosine_similarity``/``dot_product``
    folds, then ``row_number() <= k`` per query."""
    from pyspark.sql import Window

    from merkonvectordb_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_normalize,
    )

    qproj = queries.select(
        F.col("query_id").alias("__qid"), F.col("embedding").alias("__qvec")
    )
    if assume_normalized:
        qproj = qproj.withColumn("__qvec", l2_normalize(F.col("__qvec"))).where(
            F.col("__qvec").isNotNull()
        )
    corpus = vectors.where(F.col("key").isNotNull() & (F.col("key") != ""))
    score = (dot_product if assume_normalized else cosine_similarity)(
        F.col("embedding"), F.col("__qvec")
    )
    raw = F.col("__raw")
    w = Window.partitionBy("__qid").orderBy(F.desc("__raw"), F.asc("ingest_seq"))
    return (
        corpus.crossJoin(F.broadcast(qproj))
        .where(F.size(F.col("embedding")) == F.size(F.col("__qvec")))
        .withColumn("__raw", score)
        .where(raw.isNotNull() & ~F.isnan(raw) & (raw >= F.lit(float(min_score))))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .withColumn("score", F.round(raw, 6))
        .drop("__rn", "__raw", "__qvec", "embedding")
        .withColumnRenamed("__qid", "query_id")
    )


def test_knn_batch_matches_cross_join_reference(spark, monkeypatch):
    """The Arrow kernel returns exactly the expression cross-join plan's
    rows and scores on a hostile frame, in both scoring modes: zero-norm,
    NaN-element, NULL-element, NULL and wrong-dim rows and queries; a
    raw score exactly at the threshold; more tied rows than k spread
    over partitions and two-row Arrow batches (so the per-batch
    pre-limit must keep boundary ties); duplicate LONG query ids; k=0;
    pass-through TIMESTAMP and NULL columns; query sets split into
    several kernel chunks."""
    from merkonvectordb_spark.functions.vector import l2_normalize
    from merkonvectordb_spark.operators import search

    nan = float("nan")
    embs = [
        [1.0, 0.0], [0.9, 0.1], [0.0, 1.0],  # [0,1] sits at 0.0 = min_score vs [1,0]
        [0.0, 0.0],                          # zero norm
        [nan, 1.0], [None, 1.0],             # NaN / NULL element
        None,                                # NULL embedding
        [1.0, 0.0, 0.0], [0.5, 0.5, 0.0],    # wrong dim for 2-d queries
        [-0.3, 0.7], [0.6, 0.8], [0.123, -0.456],
    ] + [[float(t), 0.0] for t in range(1, 9)]  # 8 exact ties with [1, 0]
    # three partitions of rows 0-6 / 7-13 / 14-21: the empty and NULL keys
    # come first and are purged, the ties fill the last partition's two-row
    # Arrow batches, and ingest_seq falls with position, so each batch's
    # tie-break winner is its SECOND row
    rows = [("c0", "", [1.0, 0.0]), ("c0", None, [1.0, 0.0])] + [
        ("c0", f"k{i}", e) for i, e in enumerate(embs)
    ]
    rows = [
        r + (100 - i, i, None if i % 3 else f'{{"i": {i}}}')
        for i, r in enumerate(rows)
    ]
    vectors = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "collection STRING, key STRING, embedding ARRAY<FLOAT>, "
        "ingest_seq LONG, sec LONG, metadata STRING",
    ).select(
        "collection", "key", "embedding", "ingest_seq",
        F.timestamp_seconds("sec").alias("ts"), "metadata",
    )
    queries = spark.createDataFrame(
        [
            (1 << 40, [1.0, 0.0]), (1 << 40, [1.0, 0.0]),  # duplicate id
            (7, [0.6, 0.8]), (8, [0.0, 0.0]), (9, [1.0, 1.0, 0.0]),
            (10, None), (11, [nan, 1.0]), (12, [0.2, -0.9]),
        ],
        "query_id LONG, embedding ARRAY<FLOAT>",
    )
    unit = vectors.withColumn("embedding", l2_normalize(F.col("embedding")))

    def rows_of(df):
        return sorted(map(tuple, df.collect()), key=repr)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    # (k, min_score, queries per kernel chunk)
    cases = [(0, 0.0, 256), (1, 0.0, 256), (3, 0.0, 256), (30, 0.0, 256),
             (30, 0.5, 256), (3, 0.0, 2)]
    try:
        for prenorm, corpus in ((False, vectors), (True, unit)):
            for k, min_score, chunk in cases:
                monkeypatch.setattr(search, "_QUERY_CHUNK", chunk)
                got = knn_batch(corpus, queries, k=k, min_score=min_score,
                                assume_normalized=prenorm)
                want = _cross_join_knn_batch(corpus, queries, k, min_score, prenorm)
                assert got.columns == want.columns
                assert got.schema == want.schema
                assert rows_of(got) == rows_of(want), (prenorm, k, min_score, chunk)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    at_min = [r for r in knn_batch(vectors, queries, k=30).collect()
              if r.query_id == 1 << 40 and r.key == "k2"]
    assert [r.score for r in at_min] == [0.0, 0.0]  # kept at raw == min_score


def test_fold_helpers_match_expressions_bit_for_bit(spark):
    """``fold_cosine``/``fold_dot`` — the knn_batch kernel's scoring —
    return the very doubles the ``cosine_similarity``/``dot_product``
    expressions do, at d=64 where a reordered (BLAS) sum differs."""
    import numpy as np

    from merkonvectordb_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        fold_cosine,
        fold_dot,
    )

    rng = np.random.default_rng(3)
    a = rng.normal(size=(200, 64)).astype("float32")
    q = rng.normal(size=(3, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, j, a[i].tolist(), q[j].tolist()) for i in range(200) for j in range(3)],
        "i INT, j INT, a ARRAY<FLOAT>, b ARRAY<FLOAT>",
    ).select(
        "i", "j",
        cosine_similarity(F.col("a"), F.col("b")).alias("c"),
        dot_product(F.col("a"), F.col("b")).alias("d"),
    )
    cos = fold_cosine(a[:, None, :], q[None])
    dot = fold_dot(a[:, None, :], q[None])
    for r in df.collect():
        assert r.c == cos[r.i, r.j] and r.d == dot[r.i, r.j]


def test_prenorm_dot_path_matches_cosine_path(spark, corpus):
    """assume_normalized over a unit-normalized corpus must return the
    same keys/ranks/6dp-scores as the cosine path over the raw corpus —
    cosine(a, b) == dot(â, b̂) by definition; this pins the FP plumbing
    (driver-side query normalization, bound-once corpus normalize)."""
    from merkonvectordb_spark.functions.vector import l2_normalize

    unit = corpus.withColumn(
        "embedding", l2_normalize(F.col("embedding"))
    ).where(F.col("embedding").isNotNull())
    q = [0.6, 0.8]
    ref = [
        (r["key"], round(r["score"], 5))
        for r in knn(corpus, q, k=5, collection="c0").collect()
    ]
    got = [
        (r["key"], round(r["score"], 5))
        for r in knn(
            unit, q, k=5, collection="c0", assume_normalized=True
        ).collect()
    ]
    assert got == ref
    # batch form: same parity per query
    qset = spark.createDataFrame([(0, [0.6, 0.8]), (1, [0.0, 1.0])], "query_id LONG, embedding ARRAY<DOUBLE>")
    ref_b = {
        (r["query_id"], r["key"], round(r["score"], 5))
        for r in knn_batch(corpus, qset, k=3, tie_break="ingest_seq").collect()
    }
    got_b = {
        (r["query_id"], r["key"], round(r["score"], 5))
        for r in knn_batch(
            unit, qset, k=3, tie_break="ingest_seq", assume_normalized=True
        ).collect()
    }
    assert got_b == ref_b


def test_prenorm_zero_query_unscorable(corpus):
    assert knn(corpus, [0.0, 0.0], k=5, assume_normalized=True).count() == 0


def test_prenormalized_store_search(spark, tmp_path):
    """VectorStore(pre_normalized=True): upsert stores unit vectors; a
    zero-norm embedding stores NULL (unscorable by contract); search()
    uses the dot path and ranks like cosine over the raw input."""
    from merkonvectordb_spark.sources.vector_store import VectorStore

    store = VectorStore(spark, str(tmp_path / "pn"), pre_normalized=True)
    rows = [
        ("c0", "a", '{"id": "a"}', [3.0, 0.0]),
        ("c0", "b", '{"id": "b"}', [1.0, 1.0]),
        ("c0", "z", '{"id": "z"}', [0.0, 0.0]),
    ]
    recs = spark.createDataFrame(
        rows, "collection STRING, key STRING, metadata STRING, embedding ARRAY<FLOAT>"
    ).withColumn("ts", F.timestamp_micros(F.lit(0)))
    store.upsert(recs, key_from_metadata=False)
    back = {r["key"]: r["embedding"] for r in store.scan("c0").collect()}
    assert back["z"] is None  # zero-norm stores NULL by contract
    assert abs(sum(v * v for v in back["a"]) - 1.0) < 1e-6  # unit norm (f32)
    hits = store.search("c0", [1.0, 0.0], k=2).collect()
    assert [h["key"] for h in hits] == ["a", "b"]
    assert abs(hits[0]["score"] - 1.0) < 1e-6


def test_knn_wide_embeddings_d1536(spark):
    # ada-002 dimensionality: the query vector must ship as ONE array
    # literal (vector_literal), not 1536 expression nodes; the numpy
    # fold must agree with it at this width
    import numpy as np

    from merkonvectordb_spark.functions.vector import fold_cosine

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 1536)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    q = [float(x) for x in vecs[0]]
    expr_top = knn(df, q, k=5, min_score=-1.0, tie_break="vec_id").collect()
    cos = fold_cosine(vecs, np.array(q))
    fold_top = sorted(range(40), key=lambda i: (-cos[i], i))[:5]
    assert [r.vec_id for r in expr_top] == fold_top
    assert expr_top[0].vec_id == 0 and abs(expr_top[0].score - 1.0) < 1e-6
