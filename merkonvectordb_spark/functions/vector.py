"""Vector math as Catalyst expressions (+ their numpy batch form).

Reference behavior being re-expressed: float32 cosine similarity
(``TensorPrimitives.CosineSimilarity``, MerkonMemoryStore.cs:137) — NaN on
zero-norm vectors, used with an inclusive ``>=`` relevance threshold
(MerkonMemoryStore.cs:138).

Design notes for 100 TB scale:

* The default ``cosine_similarity`` is pure built-in expressions
  (``zip_with`` + ``aggregate``) — it runs JVM-side, no Python worker,
  no Arrow hop, but interpreted: higher-order functions fall back from
  whole-stage codegen.  Summation is sequential in
  element order, in DOUBLE, so results are deterministic and bit-identical
  to any other engine that folds left-to-right in double (the DuckDB
  oracle's ``list_dot_product`` over ``DOUBLE[]`` matches).
* ``fold_dot``/``fold_cosine`` are the numpy form of the same folds for
  the Arrow batch kernels (``search.knn_batch``, the IVF/LSH scoring in
  ``operators.ann``): one
  vectorized multiply-add per coordinate, left to right in float64, so
  every pair sees the expression's exact IEEE operation sequence and the
  scores are bit-identical to it.  Never ``@``/``np.dot``/``einsum``:
  BLAS reorders the summation and differs in the last bits.
* Pre-normalizing the corpus once (``l2_normalize`` at ingest) turns every
  query's cosine into a plain dot product — at scale that halves the
  per-query FLOPs and is the layout a real deployment should use.
"""

from __future__ import annotations

from collections.abc import Sequence

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_literal(values: Sequence[float]) -> Column:
    """A literal ARRAY<DOUBLE> column from a Python sequence (query vector).

    One expression node: the vector travels as a JSON string that the
    optimizer constant-folds into a single array ``Literal``.  PySpark's
    ``F.lit(list)`` builds ``array(lit, lit, ...)`` instead — one node per
    dimension, 1,536 at ada-002 width, analysed and optimized once per
    reference (``cosine_similarity`` references the query three times).
    ``repr`` round-trips every double exactly; NaN and ±inf use the JSON
    reader's non-numeric tokens.
    """

    def tok(v: float) -> str:
        if v != v:
            return "NaN"
        if v in (math.inf, -math.inf):
            return "Infinity" if v > 0 else "-Infinity"
        return repr(v)

    text = "[" + ",".join(tok(float(v)) for v in values) + "]"
    return F.from_json(F.lit(text), "array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in DOUBLE: deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: Column) -> Column:
    """L2-normalize; zero-norm vectors normalize to NULL (guarded).

    The norm is BOUND ONCE via the single-element-array wrap: referencing
    the ``l2_norm`` fold directly inside the per-element ``transform``
    lambda would re-evaluate it for every element — O(d²) per row (the
    repo's documented HOF-lambda re-eval trap; cf. functions/text.py
    ``ngrams``)."""
    return F.element_at(
        F.transform(
            F.array(l2_norm(a)),
            lambda n: F.when(
                n > 0.0, F.transform(a, lambda x: x.cast("double") / n)
            ),
        ),
        1,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity in DOUBLE; NULL when either norm is zero.

    The reference's ``TensorPrimitives.CosineSimilarity`` yields NaN on
    zero-norm input, which then fails the inclusive ``>=`` threshold
    (MerkonMemoryStore.cs:137-138) — the row is excluded.  We represent
    "unscorable" as NULL; the numpy form ``fold_cosine`` gives NaN, which
    the Arrow kernels drop before the threshold.  Either fails ``>=``, so
    observable behavior matches the reference.
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0.0, dot_product(a, b) / denom)


def fold_dot(a, b):
    """Dot products over the last axis of ``a`` and ``b`` (leading axes
    broadcast), in float64 and summed left to right:
    ``((0 + a0*b0) + a1*b1) + ...`` — per pair the operation sequence of
    the ``dot_product`` fold, so the result is bit-identical to it.
    ``fold_dot(A[:, None, :], Q[None, :, :])`` scores n rows against m
    queries as an (n, m) matrix.  NaN elements give NaN."""
    import numpy as np

    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    # coordinate-major copies: each step reads one contiguous slice
    a_t = np.ascontiguousarray(np.moveaxis(a, -1, 0))
    b_t = np.ascontiguousarray(np.moveaxis(b, -1, 0))
    out = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a_t.shape[0]):
        out += a_t[j] * b_t[j]
    return out


def fold_cosine(a, b):
    """``cosine_similarity`` in numpy: ``dot / (sqrt(|a|²)·sqrt(|b|²))``
    with every fold from ``fold_dot`` (bit-identical to the expression),
    NaN where the denominator is not positive or an element is NaN."""
    import numpy as np

    denom = np.sqrt(fold_dot(a, a)) * np.sqrt(fold_dot(b, b))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0.0, fold_dot(a, b) / denom, np.nan)
