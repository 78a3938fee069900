"""Brute-force k-NN search — the reference's one real query
(GetNearestMatchesAsync, MerkonMemoryStore.cs:117-150) re-expressed as a
Catalyst plan: scan → score → NaN-safe threshold → TakeOrderedAndProject.

Plan shape at scale (verified via .explain):

* the collection filter partition-prunes the scan (S3);
* dropping the embedding column prunes the dominant bytes at the parquet
  scan when ``with_embeddings=False`` — column pruning happens BEFORE the
  scan, unlike the reference which always materializes embeddings
  (MerkonMemoryStore.cs:133 vs :140, SURVEY §4.1);
* ``orderBy(desc).limit(k)`` plans as TakeOrderedAndProject: per-partition
  heap top-k + driver merge — O(N log k), no full shuffle/sort.  At 1000
  executors this is a single reduce of 1000·k rows, not a 100 TB sort;
* batch form collects the query set once and scores the corpus in one
  Arrow kernel with a per-batch top-k pre-limit, then cuts per-query
  top-k with a window — one corpus scan for Q queries instead of Q scans.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from merkonvectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    vector_literal,
)


def unit_query(query: Sequence[float]) -> list[float] | None:
    """Driver-side L2 normalization of a query vector, or None for a
    zero-norm query (unscorable — the reference's NaN fails every
    threshold).  Left-fold sum + IEEE sqrt + per-element division: the
    exact operation order the engines' ``x / sqrt(list_dot_product)``
    performs, so oracle scores stay bit-identical."""
    import math

    acc = 0.0
    for v in query:
        acc += float(v) * float(v)
    n = math.sqrt(acc)
    if n == 0.0:
        return None
    return [float(v) / n for v in query]


def _scoreable_at_least(score: Column, threshold: float) -> Column:
    """Inclusive threshold over scoreable rows only.

    Unscorable rows (zero-norm vectors) carry NULL score (see
    ``functions.vector.cosine_similarity``) and must be excluded — the
    reference's NaN fails its ``>=`` the same way (MerkonMemoryStore.cs:138).
    The explicit ``isnan`` guard stays because NaN can still arrive from NaN
    *elements* in user data, and Spark orders NaN largest (SURVEY §2.2 P3).
    """
    return (
        score.isNotNull() & (~F.isnan(score)) & (score >= F.lit(float(threshold)))
    )


def knn(
    vectors: DataFrame,
    query: Sequence[float],
    k: int,
    min_score: float = 0.0,
    collection: str | None = None,
    with_embeddings: bool = False,
    embedding_col: str = "embedding",
    tie_break: str | None = "ingest_seq",
    assume_normalized: bool = False,
) -> DataFrame:
    """Top-k rows by cosine similarity to ``query``.

    ``assume_normalized=True`` is the pre-normalized-corpus fast path
    (``VectorStore(pre_normalized=True)`` layout): the stored embeddings
    are unit vectors, so the cosine collapses to a single dot-product
    fold against the unit query — one fold per row instead of three
    (dot + both norms).  At 100 TB this halves-plus the per-query FLOPs
    and is the layout a real deployment should use
    (functions/vector.py:19-21).  A zero-norm query is unscorable
    (reference NaN semantics) and returns the empty frame.

    Parity quirks pinned (SURVEY §5.2.3): limit ≤ 0 ⇒ empty
    (MerkonMemoryStore.cs:125-128); threshold inclusive; zero-vector NaN
    excluded; empty/NULL keys excluded (the reference purges them before
    every search, MerkonDatabase.cs:72-88 — we filter instead of mutating);
    ties break by ingest order (stable sort, MerkonMemoryStore.cs:146);
    ``with_embeddings=False`` drops the embedding column entirely (the
    relational rendering of the reference's empty-vector projection,
    MerkonMemoryStore.cs:286).
    """
    if k <= 0:
        empty = vectors.limit(0).withColumn("score", F.lit(0.0))
        return empty if with_embeddings else empty.drop(embedding_col)

    df = vectors
    if collection is not None:
        df = df.where(F.col("collection") == collection)
    if "key" in df.columns:
        df = df.where(F.col("key").isNotNull() & (F.col("key") != ""))
    # rows whose embedding can't be scored (dimension mismatch / empty) are
    # excluded — the reference would throw; a distributed engine must not.
    df = df.where(F.size(F.col(embedding_col)) == len(query))

    if assume_normalized:
        uq = unit_query(query)
        if uq is None:  # zero-norm query: nothing can score
            empty = vectors.limit(0).withColumn("score", F.lit(0.0))
            return empty if with_embeddings else empty.drop(embedding_col)
        score = dot_product(F.col(embedding_col), vector_literal(uq))
    else:
        score = cosine_similarity(F.col(embedding_col), vector_literal(query))
    # threshold + ordering act on the RAW score (the reference filters the
    # raw similarity, MerkonMemoryStore.cs:138); rounding is output-only —
    # filtering a rounded score would admit e.g. 0.5999996 at t=0.6.
    # no spread_small_scan here: single-query scoring is one dot/cosine
    # fold per row — measured round 10, the round-robin exchange cost ≈
    # the serial compute it spreads (knn_topk 0.39 s → 0.57-0.90 s), a
    # net loss
    df = df.withColumn("__raw", score)
    df = df.where(_scoreable_at_least(F.col("__raw"), min_score))
    order = [F.desc("__raw")]
    if tie_break and tie_break in df.columns:
        order.append(F.asc(tie_break))
    df = (
        df.orderBy(*order)
        .limit(k)
        .withColumn("score", F.round(F.col("__raw"), 6))
        .drop("__raw")
    )
    if not with_embeddings:
        df = df.drop(embedding_col)
    return df


_QUERY_CHUNK = 256  # queries per kernel score matrix (see knn_batch)


def knn_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    min_score: float = 0.0,
    embedding_col: str = "embedding",
    query_embedding_col: str = "embedding",
    query_id_col: str = "query_id",
    tie_break: str | None = "ingest_seq",
    assume_normalized: bool = False,
) -> DataFrame:
    """Per-query top-k for a whole query SET in one corpus scan.

    Not in the reference (its API is one query at a time) but required at
    Spark scale (SURVEY §2.4 batch form).  The (small) query set is
    collected once on the driver — the same Q rows a broadcast would
    ship — and grouped by dimension.  One ``mapInArrow`` kernel
    (``_topk_kernel``) streams the corpus once, scores each Arrow batch
    against the queries of its rows' width with ``fold_cosine`` (or
    ``fold_dot``), drops unscorable and below-threshold pairs, and emits
    per query only the batch's rows scoring at least its k-th largest raw
    score (ties kept).  ``row_number() <= k`` over
    ``Window.partitionBy(qid)`` then makes the exact cut.

    Scores are bit-identical to the ``cosine_similarity``/``dot_product``
    expressions (left-to-right float64 folds; ``tests/test_search.py``
    pins the whole output equal to the expression cross-join plan).  The
    fold runs vectorized over rows × queries instead of as three
    interpreted higher-order folds per pair, and the pre-limit is exact:
    a row in a query's global top-k under (raw desc, tie_break asc) has
    fewer than k rows scoring above it in its own batch.

    ``assume_normalized=True``: the corpus embeddings are unit vectors
    (pre-normalized layout); each query is normalized once on the driver
    by ``unit_query`` (zero-norm queries drop — unscorable), and a
    pair's score is the dot fold alone.

    **Two-phase at the physical layer:** Spark ≥3.5 rewrites the window
    into ``WindowGroupLimit Partial`` (map-side top-k per query per input
    partition) → Exchange of ≤ Q·P·k survivors → ``WindowGroupLimit
    Final``.  ``tests/test_search.py`` pins this plan shape so a
    config/version regression (a full score shuffle into Q reducer
    tasks) fails loudly.
    """
    corpus = vectors
    if "key" in corpus.columns:
        corpus = corpus.where(F.col("key").isNotNull() & (F.col("key") != ""))
    qids, groups = collect_queries(
        queries, query_id_col, query_embedding_col, k, assume_normalized
    )
    order = [F.desc("__raw")]
    if tie_break and tie_break in vectors.columns:
        order.append(F.asc(tie_break))
    return kernel_topk(
        corpus, qids, groups, queries.schema[query_id_col].dataType, k,
        min_score, embedding_col, query_id_col, order, assume_normalized,
    )


def collect_queries(queries, query_id_col, emb_col, k, assume_normalized=False):
    """The query set on the driver for ``kernel_topk``: the ids by
    position and ``(positions, (m, d) matrix)`` groups of one dimension
    each, at most ``_QUERY_CHUNK`` queries per group.  Nothing is
    collected when ``k <= 0``."""
    qids, by_dim = [], {}
    qrows = queries.select(query_id_col, emb_col).collect() if k > 0 else []
    for qid, vec in qrows:
        if not vec:  # NULL or empty: unscorable
            continue
        v = np.array(vec, dtype=np.float64)  # a NULL element becomes NaN
        if assume_normalized:
            v = unit_query(v)  # None for a zero-norm query: it drops
            if v is None:
                continue
        by_dim.setdefault(len(v), []).append((len(qids), v))
        qids.append(qid)
    # chunks of at most _QUERY_CHUNK queries bound the kernel's (rows ×
    # queries) score matrices: ~20 MB each at the default 10k-row batch
    groups = [
        (np.array([i for i, _ in qs[lo : lo + _QUERY_CHUNK]]),
         np.stack([v for _, v in qs[lo : lo + _QUERY_CHUNK]]))
        for qs in by_dim.values()
        for lo in range(0, len(qs), _QUERY_CHUNK)
    ]
    return qids, groups


def kernel_topk(
    corpus, qids, groups, qid_type, k, min_score, emb_col, query_id_col,
    order, dot_only=False, route=None,
):
    """Per-query top-k of ``corpus`` against a driver-held query set
    (``collect_queries``): one ``_topk_kernel`` pass, then
    ``row_number() <= k`` over ``Window.partitionBy(qid).orderBy(order)``
    and 6dp output rounding.  ``route=(key_col, pairs)`` restricts which
    queries each row meets: a row keyed ``key`` meets query position
    ``p`` for each ``(key, p)`` in ``pairs``.  Rows keyed otherwise are
    filtered by a literal ``isin`` first (partition pruning on a
    persisted table); the key column leaves the output.  Out go
    ``corpus``'s other columns, ``query_id_col`` and ``score``."""
    if route:
        route = _csr(*route)
        corpus = corpus.where(F.col(route[0]).isin(route[1]))
    drop = {emb_col, route[0]} if route else {emb_col}
    out_schema = T.StructType(
        [f for f in corpus.schema.fields if f.name not in drop]
        + [
            T.StructField("__qid", qid_type),
            T.StructField("__raw", T.DoubleType()),
        ]
    )
    kernel = _topk_kernel(
        emb_col, groups, qids, to_arrow_type(qid_type), k, float(min_score),
        dot_only, route,
    )
    w = Window.partitionBy("__qid").orderBy(*order)
    return (
        corpus.mapInArrow(kernel, out_schema)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .withColumn("score", F.round(F.col("__raw"), 6))
        .drop("__rn", "__raw")
        .withColumnRenamed("__qid", query_id_col)
    )


def _csr(key_col, pairs):
    """``route`` in the kernel's sparse form, ``(key_col, keys, off,
    pos)``: a row keyed ``keys[i]`` meets the query positions
    ``pos[off[i]:off[i + 1]]``."""
    pairs = sorted(set(pairs))
    count = Counter(k for k, _ in pairs)
    off = np.cumsum([0] + [count[k] for k in count], dtype=np.int64)
    return key_col, list(count), off, np.array([p for _, p in pairs], np.int64)


def _topk_kernel(emb_col, groups, qids, qid_arrow, k, min_score, dot_only,
                 route=None):
    """The Arrow kernel of ``kernel_topk``: ``groups`` lists (query
    positions, (m, d) query matrix) pairs of one dimension each; ``qids``
    are the ids by position.  Per record batch and group it scores the
    rows of that width against the group's queries, keeps pairs with a
    raw score ``>= min_score`` (NaN — zero norm, NaN or NULL elements —
    never passes), and of those, per query, the ones at or above the
    k-th largest raw score.  Out go the batch's other columns, ``__qid``
    and ``__raw``.

    ``route=(key_col, keys, off, pos)`` scores a row only against the
    queries its key admits: a row keyed ``keys[i]`` meets the query
    positions ``pos[off[i]:off[i + 1]]`` (IVF: a list id and the queries
    probing that list; LSH re-rank: a candidate's query id and that
    id's vectors).  Rows with other keys drop.  The admitted (row,
    query) pairs are listed with ``np.repeat``, folded against vectors
    gathered from the driver matrices in chunks of at most 2^22
    elements, and cut per query by a sort — all linear in the admitted
    pairs, not in rows × queries."""
    key_col, keys, off, qpos_of = route if route else (None, (), None, None)
    drop = [emb_col, key_col] if route else [emb_col]
    if route:  # routed pairs gather their queries: one matrix per width
        by_dim: dict = {}
        for pos, qmat in groups:
            by_dim.setdefault(qmat.shape[1], []).append((pos, qmat))
        groups = [
            (np.concatenate([p for p, _ in g]), np.vstack([m for _, m in g]))
            for g in by_dim.values()
        ]
        # a query position's group and its row in that group's matrix
        grp = np.full(len(qids), -1)
        slot = np.zeros(len(qids), dtype=np.int64)
        for g, (pos, _) in enumerate(groups):
            grp[pos], slot[pos] = g, np.arange(len(pos))

    def vectors(emb, rows, d):
        return (
            emb.take(rows).flatten().to_numpy(zero_copy_only=False)
            .astype(np.float64).reshape(-1, 1, d)
        )

    def dense(emb, width, fold):
        for pos, qmat in groups:
            sel = np.flatnonzero(width == qmat.shape[1])
            if sel.size == 0:
                continue
            score = fold(vectors(emb, sel, qmat.shape[1]), qmat[None])
            ok = score >= min_score
            if sel.size > k:
                # k-th largest passing score per query (-inf when fewer
                # than k pass); ties with it stay
                kth = np.partition(
                    np.where(ok, score, -np.inf), sel.size - k, axis=0
                )[sel.size - k]
                ok &= score >= kth
            r, c = np.nonzero(ok)
            yield sel[r], pos[c], score[r, c]

    def routed(emb, width, kidx, fold):
        sel = np.flatnonzero(kidx >= 0)
        start, n = off[kidx[sel]], np.diff(off)[kidx[sel]]
        row = np.repeat(sel, n)
        qp = qpos_of[np.repeat(start - np.cumsum(n) + n, n) + np.arange(n.sum())]
        raw = np.full(row.size, np.nan)
        for g, (pos, qmat) in enumerate(groups):
            d = qmat.shape[1]
            m = np.flatnonzero((grp[qp] == g) & (width[row] == d))
            step = max(1, (1 << 22) // max(d, 1))
            for lo in range(0, m.size, step):
                mm = m[lo : lo + step]
                raw[mm] = fold(vectors(emb, row[mm], d)[:, 0], qmat[slot[qp[mm]]])
        ok = raw >= min_score
        row, qp, raw = row[ok], qp[ok], raw[ok]
        if row.size == 0:
            return
        o = np.lexsort((-raw, qp))  # per query, raw descending
        row, qp, raw = row[o], qp[o], raw[o]
        first = np.flatnonzero(np.r_[True, qp[1:] != qp[:-1]])
        n = np.diff(np.r_[first, qp.size])
        kth = np.where(n > k, raw[first + np.minimum(n, k) - 1], -np.inf)
        keep = raw >= np.repeat(kth, n)
        yield row[keep], qp[keep], raw[keep]

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from merkonvectordb_spark.functions.vector import fold_cosine, fold_dot

        fold = fold_dot if dot_only else fold_cosine
        qid_arr = pa.array(qids, type=qid_arrow)
        key_arr = pa.array(list(keys))
        for rb in batches:
            emb = rb.column(emb_col)
            width = pc.list_value_length(emb).fill_null(-1).to_numpy()
            if route:
                kcol = rb.column(key_col)
                kidx = (
                    pc.index_in(kcol, value_set=key_arr.cast(kcol.type))
                    .fill_null(-1).to_numpy()
                )
                parts = list(routed(emb, width, kidx, fold))
            else:
                parts = list(dense(emb, width, fold))
            if sum(len(r) for r, _, _ in parts) == 0:
                continue
            rows, qpos, raw = (np.concatenate(x) for x in zip(*parts))
            out = rb.drop_columns(drop).take(rows)
            yield pa.RecordBatch.from_arrays(
                out.columns + [qid_arr.take(qpos), pa.array(raw)],
                names=out.schema.names + ["__qid", "__raw"],
            )

    return kernel


def mmr_rerank(
    cand: DataFrame,
    psim: DataFrame,
    k: int,
    lam: float = 0.5,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversification over a per-query
    candidate set: greedily pick the candidate maximizing
    ``lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)``.

    ``cand`` and ``psim`` are cogrouped on query_id and the whole greedy
    loop runs per query inside one ``applyInPandas`` task — ONE shuffle,
    one job, regardless of k.  Candidate sets are re-rank-width by
    construction (top-N per query), so a group always fits a task; with
    millions of queries every group solves in parallel, and cost follows
    re-rank width, never corpus size.  Candidate generation upstream is
    the existing top-k machinery.

    ``cand`` carries ``(query_id, vec_id, qs)`` (raw query-relevance,
    UNROUNDED — rounding happens at output only) and ``psim`` the raw
    pairwise sims ``(query_id, a, b, sim)`` among that query's
    candidates.

    Exact-parity notes: the objective is the double arithmetic
    ``lam*qs - (1-lam)*max_sim``; ties break on desc objective, then asc
    id; a candidate with NO pairwise row against any selected item
    scores max_sim 0 (maximally diverse — an incomplete or
    one-directional ``psim`` never shrinks the result set); rounding
    happens in the SPARK layer (``F.round``, HALF_UP) — Python's
    banker's ``round`` would diverge on .xxxxx5 ticks.

    Use ``lam`` values exactly representable in binary (0.5, 0.25,
    0.75): the oracle interpolates the SAME literals, and an
    unrepresentable ``1 - lam`` would diverge in the last ulp.

    Returns ``(query_id, vec_id, sel_rank, mmr_score)``; rank 1's score
    is its raw relevance (greedy seed), later ranks the MMR objective.
    """
    qk, ik = query_id_col, id_col
    # unscorable candidates (NULL/NaN relevance) are excluded up front:
    # a Python max would propagate NaN as a seed — the contract is that
    # ``qs`` is a real score
    cand = cand.where(F.col("qs").isNotNull() & (~F.isnan("qs")))
    lam_f = float(lam)
    one_m = float(1.0 - lam)
    out_schema = T.StructType(
        [
            cand.schema[qk],
            cand.schema[ik],
            T.StructField("sel_rank", T.IntegerType()),
            T.StructField("__mscore", T.DoubleType()),
        ]
    )

    def _greedy(key, cpdf, ppdf):
        import pandas as pd

        cols = [qk, ik, "sel_rank", "__mscore"]
        if k <= 0 or not len(cpdf):
            return pd.DataFrame(columns=cols)
        qs = dict(zip(cpdf[ik], cpdf["qs"]))
        sims: dict = {}
        if len(ppdf):
            for a, b, s in zip(ppdf["a"], ppdf["b"], ppdf["sim"]):
                sims[(a, b)] = s
        seed = min(qs, key=lambda i: (-qs[i], i))
        sel = [(seed, float(qs[seed]))]
        remaining = sorted(i for i in qs if i != seed)
        while len(sel) < k and remaining:
            best_id = None
            best_m = None
            for i in remaining:
                have = [sims[(i, s)] for s, _ in sel if (i, s) in sims]
                ms = max(have) if have else 0.0
                m = lam_f * float(qs[i]) - one_m * float(ms)
                if best_m is None or m > best_m:
                    best_id, best_m = i, m  # remaining is asc-sorted: first
                    # strictly-greater wins, equal keeps the lower id
            sel.append((best_id, best_m))
            remaining.remove(best_id)
        qval = key[0]
        return pd.DataFrame(
            [(qval, i, r + 1, sc) for r, (i, sc) in enumerate(sel)],
            columns=cols,
        )

    # cand and psim usually derive from the SAME candidate frame; rename
    # the right side's key so the cogroup key resolution never sees two
    # lineage-identical attributes (ambiguous-self-join guard)
    right = psim.select(
        F.col(qk).alias("__pqk"), "a", "b", "sim"
    )
    out = (
        cand.select(qk, ik, "qs")
        .groupBy(qk)
        .cogroup(right.groupBy("__pqk"))
        .applyInPandas(_greedy, out_schema)
    )
    return out.withColumn(
        "mmr_score", F.round(F.col("__mscore"), 6)
    ).drop("__mscore")
