"""Vector function semantics vs numpy ground truth + reference quirks
(SURVEY §5.2.3/§5.2.4 property tests)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from merkonvectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    fold_cosine,
    l2_norm,
    l2_normalize,
    vector_literal,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("a", T.ArrayType(T.FloatType())),
        T.StructField("b", T.ArrayType(T.FloatType())),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_dot_and_norm_match_numpy(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, rng.normal(size=8).astype("float32").tolist(), rng.normal(size=8).astype("float32").tolist())
        for i in range(50)
    ]
    got = (
        _df(spark, rows)
        .select(
            "id",
            dot_product(F.col("a"), F.col("b")).alias("dot"),
            l2_norm(F.col("a")).alias("na"),
        )
        .collect()
    )
    for r, (i, a, b) in zip(sorted(got, key=lambda r: r.id), rows):
        a64 = np.asarray(a, dtype=np.float64)
        b64 = np.asarray(b, dtype=np.float64)
        assert r.dot == pytest.approx(float(a64 @ b64), rel=1e-12)
        assert r.na == pytest.approx(float(np.linalg.norm(a64)), rel=1e-12)


def test_cosine_range_and_null_on_zero(spark):
    rows = [
        (0, [1.0, 0.0], [0.0, 1.0]),
        (1, [1.0, 2.0], [1.0, 2.0]),
        # zero norm ⇒ unscorable ⇒ NULL in both paths (the reference's NaN
        # at MerkonMemoryStore.cs:137 is observably identical: both fail
        # the inclusive >= threshold at :138)
        (2, [0.0, 0.0], [1.0, 2.0]),
        (3, [-1.0, -2.0], [1.0, 2.0]),
    ]
    got = {
        r.id: r.c
        for r in _df(spark, rows)
        .select("id", cosine_similarity(F.col("a"), F.col("b")).alias("c"))
        .collect()
    }
    assert got[0] == pytest.approx(0.0, abs=1e-12)
    assert got[1] == pytest.approx(1.0, rel=1e-12)
    assert got[2] is None
    assert got[3] == pytest.approx(-1.0, rel=1e-12)
    for v in got.values():
        assert v is None or -1.0 - 1e-9 <= v <= 1.0 + 1e-9


def test_fold_cosine_matches_expression(spark):
    """``fold_cosine``, the Arrow kernels' scoring, gives the expression's
    doubles against a query literal, and NaN where it gives NULL."""
    rng = np.random.default_rng(11)
    q = rng.normal(size=16).astype("float32").tolist()
    rows = [
        (i, rng.normal(size=16).astype("float32").tolist(), q) for i in range(100)
    ] + [(100, [0.0] * 16, q)]
    df = _df(spark, rows)
    expr = df.select(
        "id", cosine_similarity(F.col("a"), vector_literal(q)).alias("c")
    )
    e = {r.id: r.c for r in expr.collect()}
    got = fold_cosine(np.array([r[1] for r in rows], dtype=np.float32), q)
    assert set(e) == {r[0] for r in rows}
    for (i, _, _), p in zip(rows, got):
        if e[i] is None:
            assert np.isnan(p)  # unscorable: NULL expression, NaN fold
        else:
            assert p == e[i]  # bit-identical: the same left-to-right fold


@pytest.mark.parametrize("dim", [64, 1536])
def test_vector_literal_is_one_literal_with_the_old_scores(spark, dim):
    """The query vector is one expression node — a JSON string the
    optimizer folds into one array literal — where ``F.lit(list)``
    builds one literal per element for the analyzer, and the scores
    equal those of that per-element form exactly."""
    rng = np.random.default_rng(dim)
    q = rng.normal(size=dim).tolist()
    df = spark.createDataFrame(
        [(i, rng.normal(size=dim).astype("float32").tolist(), None)
         for i in range(20)],
        SCHEMA,
    )
    new = df.select("id", cosine_similarity(F.col("a"), vector_literal(q)).alias("c"))
    old = df.select("id", cosine_similarity(F.col("a"), F.lit(q)).alias("c"))
    qe, old_qe = new._jdf.queryExecution(), old._jdf.queryExecution()
    assert "array(" in old_qe.analyzed().toString()  # one node per element
    assert "array(" not in qe.analyzed().toString()
    assert "from_json" not in qe.optimizedPlan().toString()  # folded
    assert sorted(new.collect()) == sorted(old.collect())


def test_l2_normalize_unit_norm(spark):
    rows = [(0, [3.0, 4.0], [0.0, 0.0]), (1, [0.0, 0.0], [0.0, 0.0])]
    got = {
        r.id: r.n
        for r in _df(spark, rows)
        .select("id", l2_norm(l2_normalize(F.col("a"))).alias("n"))
        .collect()
    }
    assert got[0] == pytest.approx(1.0, rel=1e-12)
    assert got[1] is None  # zero vector has no direction
