"""IVF assignment, probing and re-rank in Arrow kernels: parity with the
expression plans they replaced, and their plan shape.

The reference functions below are the broadcast cross-join forms that
``operators.ann`` ran before its scoring moved into ``mapInArrow``
kernels: the interpreted ``cosine_similarity`` fold over every
(row, centroid) and (candidate, query) pair, a max-of-struct ``groupBy``
for the best list, a window for the probes.  The kernels must return
their rows and scores exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from merkonvectordb_spark.functions.vector import cosine_similarity
from merkonvectordb_spark.operators import ann as A
from merkonvectordb_spark.operators.index import (
    append_to_ivf_index,
    build_ivf_index,
    search_ivf_index,
)
from merkonvectordb_spark.plans import executed_plan

NAN = float("nan")


def _ref_assign(df, centroids, id_col, emb_col, n_best, carry=()):
    scored = (
        df.select(id_col, emb_col, *[c for c in carry if c != emb_col])
        .crossJoin(F.broadcast(centroids))
        .withColumn("__cos", cosine_similarity(F.col(emb_col), F.col("cv")))
        .where(F.col("__cos").isNotNull() & (~F.isnan("__cos")))
    )
    if n_best == 1:
        best = F.max(F.struct(
            F.col("__cos").alias("c"), (-F.col("cid")).alias("nc"),
            F.col("cid").alias("cid"),
        ))
        return scored.groupBy(id_col).agg(
            best.alias("__b"), *[F.first(c).alias(c) for c in carry]
        ).select(id_col, F.col("__b.cid").alias("cid"), *carry)
    w = Window.partitionBy(id_col).orderBy(F.desc("__cos"), F.asc("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_best)
        .select(id_col, "cid")
    )


def _ref_rerank(cand, queries, k, min_score, id_col, emb_col, qid_col):
    qvecs = F.broadcast(queries.select(
        F.col(qid_col).alias("__qid"), F.col(emb_col).alias("__qvec")
    ))
    raw = F.col("__raw")
    w = Window.partitionBy("__qid").orderBy(F.desc("__raw"), F.asc(id_col))
    return (
        cand.join(qvecs, "__qid")
        .withColumn("__raw", cosine_similarity(F.col(emb_col), F.col("__qvec")))
        .where(raw.isNotNull() & ~F.isnan(raw) & (raw >= F.lit(float(min_score))))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .withColumn("score", F.round(raw, 6))
        .drop("__rn", "__raw", "__qvec", emb_col)
        .withColumnRenamed("__qid", qid_col)
    )


def _ref_knn_batch_ivf(corpus, queries, k, centroids, n_probe, min_score):
    assign = _ref_assign(corpus, centroids, "vec_id", "embedding", 1)
    probes = _ref_assign(
        queries, centroids, "query_id", "embedding", n_probe
    ).withColumnRenamed("query_id", "__qid")
    cand = (
        probes.join(assign, "cid").select("__qid", "vec_id").distinct()
        .join(corpus.select("vec_id", "embedding", "label"), "vec_id")
    )
    return _ref_rerank(
        cand, queries, k, min_score, "vec_id", "embedding", "query_id"
    )


_EMBS = [
    [1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.0, 0.0], [NAN, 1.0],
    [None, 1.0], None, [1.0, 0.0, 0.0], [0.5, 0.5, 0.0], [-0.3, 0.7],
    [0.6, 0.8], [0.123, -0.456], [1.0, 1.0], [-1.0, -1.0], [],
] + [[float(t), 0.0] for t in range(1, 9)]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def hostile(spark):
    """Corpus, queries and centroids with every row the kernels must
    handle as the expressions do: zero-norm, NaN-element, NULL-element,
    NULL, empty and wrong-dimension vectors on both sides; rows tied
    exactly between two centroids; eight rows tied with [1, 0] spread
    over three partitions, which score exactly 1.0 against query 100
    and exactly 0.0, past its top two, against query 109; a corpus row
    without an id that would top query 100; a 3-d centroid beside the
    2-d ones, a zero-norm and a NULL centroid, cids out of order."""
    corpus = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, e, f"l{i % 4}") for i, e in enumerate(_EMBS)]
            + [(None, [1.0, 0.0], "lnull")], 3
        ),
        "vec_id LONG, embedding ARRAY<FLOAT>, label STRING",
    )
    queries = spark.createDataFrame(
        [
            (100, [1.0, 0.0]), (101, [0.6, 0.8]), (102, [0.0, 0.0]),
            (103, [1.0, 1.0, 0.0]), (104, None), (105, [NAN, 1.0]),
            (106, [0.2, -0.9]), (107, [0.0, 1.0]), (108, [1.0, 1.0]),
            (109, [0.0, -1.0]),
        ],
        "query_id LONG, embedding ARRAY<FLOAT>",
    )
    cents = spark.createDataFrame(
        [
            (7, [1.0, 0.0]), (2, [0.0, 1.0]), (5, [-1.0, 0.0]),
            (3, [0.0, -1.0]), (9, [0.0, 0.0, 1.0]), (4, [0.0, 0.0]),
            (6, None), (8, [0.6, -0.8]),
        ],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    return corpus, queries, cents


@pytest.fixture(scope="module")
def hostile_index(spark, hostile, tmp_path_factory):
    corpus, _, cents = hostile
    root = str(tmp_path_factory.mktemp("ivf") / "hostile")
    return build_ivf_index(spark, corpus, cents, root, extra_cols=("label",))


@pytest.fixture
def two_row_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_ivf_assign_matches_max_of_struct_reference(spark, hostile):
    """Best list per row, ties to the lowest cid, all-NaN rows dropped,
    carried columns kept; n_best > 1 ranks as the window did, pooling
    the vectors of a repeated id."""
    corpus, queries, cents = hostile
    got = A.ivf_assign(corpus, cents, "vec_id", carry=("embedding", "label"))
    want = _ref_assign(corpus, cents, "vec_id", "embedding", 1,
                       carry=("embedding", "label"))
    assert got.columns == want.columns
    rows = _rows(got)
    assert rows == _rows(want)
    best = {r[0]: r[1] for r in rows}
    assert (best[12], best[13]) == (2, 3)  # exact ties: 2 beats 7, 3 beats 5
    queries = queries.union(
        spark.createDataFrame([(100, [0.0, 1.0])], queries.schema)
    )
    got = A.ivf_assign(queries, cents, "query_id", n_best=3)
    want = _ref_assign(queries, cents, "query_id", "embedding", 3)
    assert _rows(got) == _rows(want)


def test_knn_batch_ivf_and_index_search_match_reference(
    hostile, hostile_index, two_row_batches
):
    """The in-memory and the persisted IVF search return the expression
    plan's rows, scores and column order, with more ties than k across
    two-row Arrow batches, both above and exactly at min_score; k=0
    returns nothing."""
    corpus, queries, cents = hostile
    want = _rows(_ref_knn_batch_ivf(corpus, queries, 3, cents, 6, 0.0))
    mem = A.knn_batch_ivf(corpus, queries, 3, cents, 6, 0.0,
                          extra_cols=("label",))
    disk = search_ivf_index(hostile_index, queries, 3, 6, 0.0)
    assert mem.columns == disk.columns == ["query_id", "vec_id", "label", "score"]
    assert _rows(mem) == _rows(disk) == want
    assert (109, 0, "l0", 0.0) in want  # kept at raw == min_score
    assert A.knn_batch_ivf(corpus, queries, 0, cents).collect() == []


def test_lsh_rerank_matches_reference(spark, hostile):
    """``rerank_topk`` scores each candidate against its own query,
    and against every vector of a duplicated query id, as the join did."""
    corpus, queries, _ = hostile
    queries = queries.union(
        spark.createDataFrame([(100, [0.0, 1.0])], queries.schema)
    )
    cand = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, e, f"l{i % 4}", q) for i, e in enumerate(_EMBS)
             for q in range(100, 109) if (i + q) % 3], 3
        ),
        "vec_id LONG, embedding ARRAY<FLOAT>, label STRING, __qid LONG",
    )
    got = A.rerank_topk(cand, queries, 2, 0.0, "vec_id", "embedding",
                        "query_id")
    want = _ref_rerank(cand, queries, 2, 0.0, "vec_id", "embedding",
                       "query_id")
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_duplicate_query_ids_keep_their_results(spark, hostile, hostile_index):
    """A query id given twice probes the best lists of both its vectors
    together and meets each candidate once per vector — the output the
    window-and-join plan gave, pinned from it."""
    corpus, _, cents = hostile
    queries = spark.createDataFrame(
        [(1, [1.0, 0.1]), (1, [0.1, 1.0]), (2, [0.9, 0.0])],
        "query_id LONG, embedding ARRAY<FLOAT>",
    )
    want = {
        1: [
            (1, 10, "l2", 0.855732), (1, 12, "l0", 0.773957),
            (1, 12, "l0", 0.773957), (1, 2, "l2", 0.995037),
            (1, 9, "l1", 0.875387),
        ],
        2: [
            (1, 0, "l0", 0.995037), (1, 1, "l1", 0.99994),
            (1, 15, "l3", 0.995037), (1, 19, "l3", 0.995037),
            (1, 2, "l2", 0.995037),
        ],
    }
    tail = [(2, i, f"l{i % 4}", 1.0) for i in (0, 15, 16, 17, 18)]
    for n_probe in (1, 2):
        for got in (
            A.knn_batch_ivf(corpus, queries, 5, cents, n_probe,
                            extra_cols=("label",)),
            search_ivf_index(hostile_index, queries, 5, n_probe),
        ):
            got = got.select("query_id", "vec_id", "label", "score")
            assert _rows(got) == want[n_probe] + tail, n_probe


def test_duplicate_corpus_ids_each_keep_their_own_list(spark, tmp_path):
    """Assignment is per row: two rows sharing an id both reach the
    index, each in its own best list with its own embedding.  The
    max-of-struct ``groupBy(id)`` kept one of them."""
    rows = spark.createDataFrame(
        [(7, [1.0, 0.1]), (7, [0.1, 1.0]), (8, [0.0, 2.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid INT, cv ARRAY<DOUBLE>"
    )
    want = [
        (7, 0, [1.0, 0.10000000149011612]),
        (7, 1, [0.10000000149011612, 1.0]),
        (8, 1, [0.0, 2.0]),
    ]
    got = A.ivf_assign(rows, cents, "vec_id", carry=("embedding",))
    assert _rows(got) == want
    idx = build_ivf_index(spark, rows, cents, str(tmp_path / "dup"))
    assert _rows(idx.lists.read().select("vec_id", "cid", "embedding")) == want
    append_to_ivf_index(idx, rows)
    assert _rows(idx.lists.read().select("vec_id", "cid", "embedding")) == sorted(
        want * 2, key=repr
    )


def test_ivf_paths_plan_arrow_kernels_not_cross_joins(hostile, hostile_index):
    """Assignment, in-memory search and index search each plan a
    ``MapInArrow`` kernel and no cross join of any physical form."""
    corpus, queries, cents = hostile
    for df in (
        A.ivf_assign(corpus, cents, "vec_id"),
        A.knn_batch_ivf(corpus, queries, 3, cents),
        search_ivf_index(hostile_index, queries, 3),
    ):
        plan = executed_plan(df)
        assert "MapInArrow" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
