"""Deduplication operators for the LLM-data-pipeline surface.

Exact dedup is a fingerprint hash-groupBy (map-side partial agg → one
shuffled row per distinct fingerprint).  Near-dup (MinHash/LSH, SimHash)
lives here too — every stage is bucketed: no all-pairs comparison ever
materializes, which is the property that keeps 100 TB feasible.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from merkonvectordb_spark.functions.hashing import md5_hash60, py_md5_hash60

from merkonvectordb_spark.functions.text import doc_fingerprint, word_shingles

# ---------------------------------------------------------------------------
# MinHash constants — shared with the DuckDB oracle mirror (queries_dedup):
# universal hashing h_i(x) = (a_i·x + b_i) mod P over a 31-bit prime field.
# a_i·x < P² < 2^62 keeps every intermediate inside BIGINT in both engines.
# ---------------------------------------------------------------------------

MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)
NUM_HASHES = 16
LSH_BANDS = 8  # × 2 rows/band: P(candidate) = 1-(1-j²)^8 — 0.995 at j=0.7
SHINGLE_N = 3
# per-task shingle -> hash cache in shingle_analysis: cleared once it
# reaches this many entries, so a long task's memory stays bounded
_SHINGLE_CACHE_MAX = 1 << 18

_rng = random.Random(2026)
MINHASH_A = [_rng.randrange(1, MINHASH_P) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact (normalized-content) dedup groups.

    Returns one row per distinct fingerprint: ``fingerprint, survivor_id
    (min id — deterministic), group_sz``.  Keep survivors by joining this
    back on ``(fingerprint, id)``; at scale the join is a broadcast of
    nothing — ``survivors`` is derivable from a window instead if the
    full row payload must be carried through.
    """
    return (
        df.select(
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
            F.col(id_col).alias("__id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("__id").alias("survivor_id"),
            F.count(F.lit(1)).alias("group_sz"),
        )
    )


def keep_survivors(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Drop all but the min-id row of each exact-dup group — the
    materializing form of :func:`exact_dedup`.  One window over the
    fingerprint hash-partitioning (no second scan, no join)."""
    from pyspark.sql import Window

    w = Window.partitionBy(doc_fingerprint(F.col(text_col))).orderBy(
        F.asc(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# near-dup: MinHash signatures → LSH banding → candidate pairs → exact
# Jaccard verify → connected components.  No stage is all-pairs: banding
# bounds comparisons to same-bucket docs, and the iterative CC runs on the
# (tiny) verified-edge subgraph, never the corpus.
# ---------------------------------------------------------------------------


def lsh_band_keys(sig: Column) -> Column:
    """BANDS string keys, each concatenating ROWS consecutive signature
    values — two docs collide in a band iff that slice matches exactly."""
    rows = NUM_HASHES // LSH_BANDS
    return F.array(
        *[
            F.concat_ws(
                ":", *[sig[b * rows + r].cast("string") for r in range(rows)]
            )
            for b in range(LSH_BANDS)
        ]
    )


def shingle_analysis(
    df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """``(__id, __sh, __setkey, __sig)`` in ONE Arrow pass: the
    distinct shingles, the identical-set key and the MinHash signature
    every banding / collapse / calibration consumer reads.  It is the
    only shingle-hashing implementation in the package; hash-free
    consumers (Jaccard verify) read its ``__sh`` column.

    Value contract (pinned in ``test_dedup`` against a JVM expression
    reference, and by the oracle): every column is bit-for-bit the JVM
    expression chain —
    ``__sh = array_distinct(word_shingles(lower-split text))`` in
    first-occurrence order, ``__setkey = md5(concat_ws('',
    transform(array_sort(__sh), md5)))``, ``__sig`` the 16-arm
    ``(a·x + b) mod P`` fold over the md5[:15]-fold base hashes.  The
    case mapping is the JVM's own ``lower()``, selected into the Arrow
    input — Python's ``str.lower()`` follows a different Unicode
    version and disagrees on some code points (e.g. U+A7CB, U+10D50).
    The split pattern is Java's ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]``
    (NOT Python's Unicode-aware ``\\s``).  Docs with no shingle are
    dropped.

    Why Arrow here (guide §4 inverted): the JVM chain evaluates ~3
    interpreted higher-order transforms with two md5 calls per shingle
    plus 16 interpreted signature arms; the fused pass hashes each
    distinct shingle ONCE (per-task cache, cleared past
    ``_SHINGLE_CACHE_MAX`` entries), folds signatures in one numpy
    matmul, and crosses the Arrow boundary once per doc batch.
    Interleaved A/B at sf0.1 (4 pairs, one process): chain front-half
    median 2.54 s → 2.04 s, every pair in favor."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("__id", id_type),
            T.StructField("__sh", T.ArrayType(T.StringType())),
            T.StructField("__setkey", T.StringType()),
            T.StructField("__sig", T.ArrayType(T.LongType())),
        ]
    )
    src = df.select(
        F.col(id_col).alias("__id"), F.lower(F.col(text_col)).alias("__text")
    ).repartition(par)
    a_list, b_list, p = list(MINHASH_A), list(MINHASH_B), MINHASH_P
    cache_max = _SHINGLE_CACHE_MAX

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5
        # Java \s, not Python's Unicode \s — must match F.split(r"\s+")
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        a_arr = np.array(a_list, dtype=np.int64)[:, None]
        b_arr = np.array(b_list, dtype=np.int64)[:, None]
        cache: dict = {}  # shingle -> (md5hex, base_hash) across batches
        for pdf in batches:
            ids, shs, keys, sigs = [], [], [], []
            for i, t in zip(pdf["__id"], pdf["__text"]):
                toks = [w for w in ws.split(t or "") if w]
                if len(toks) < n:
                    continue  # empty shingle set — dropped
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[j : j + n])
                        for j in range(len(toks) - n + 1)
                    )
                )
                hexs = {}
                bases = np.empty(len(grams), dtype=np.int64)
                for k, g in enumerate(grams):
                    e = cache.get(g)
                    if e is None:
                        if len(cache) >= cache_max:
                            cache.clear()
                        h = md5(g.encode("utf-8")).hexdigest()
                        e = (h, int(h[:15], 16) % p)
                        cache[g] = e
                    hexs[g] = e[0]
                    bases[k] = e[1]
                key = md5(
                    "".join(hexs[g] for g in sorted(grams)).encode()
                ).hexdigest()
                sig = ((a_arr * bases[None, :]) % p + b_arr) % p
                ids.append(i)
                shs.append(grams)
                keys.append(key)
                sigs.append(sig.min(axis=1).tolist())
            if ids:  # an empty pandas frame infers float64 columns,
                # which Arrow cannot convert to list<string>
                yield pd.DataFrame(
                    {"__id": ids, "__sh": shs, "__setkey": keys, "__sig": sigs}
                )

    return src.mapInPandas(gen, out_schema)


def band_rows(sets_df: DataFrame) -> DataFrame:
    """``(__id, band_id, band_key)`` LSH band rows of a
    ``shingle_analysis`` frame (or its collapsed ``rep_sets``) — the
    joinable (and persistable: see ``operators.fingerprint_store``)
    form of the MinHash index."""
    return sets_df.select(
        "__id",
        F.posexplode(lsh_band_keys(F.col("__sig"))).alias("band_id", "band_key"),
    )


def collapse_identical_sets(
    sets_df: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Identical-shingle-set collapse, exposed for pair-semantics
    consumers (round 9): returns ``(membership, rep_sets)`` where
    ``membership`` is ``(__id, __rep)`` (every doc → min-id holder of
    its exact set) and ``rep_sets`` is the ``(__id, __sh, __sig)``
    table restricted to representatives.  ``sets_df`` is a
    ``shingle_analysis`` frame: its ``__setkey`` is the set key.

    Identical sets have identical MinHash signatures, identical band
    keys, and identical Jaccard against every third set — so banding,
    verification, and scoring over ``rep_sets`` plus a star expansion
    is value-identical to running over the full table, while a g-sized
    identical group costs g membership rows instead of g²/2 candidate
    pairs (the license-boilerplate adversary; the key scheme: md5 over
    the sorted set with each element md5-hashed first, so the
    fixed-width concatenation is not injectable — ONE copy of it lives
    in ``shingle_analysis``).

    Both returned frames are EAGER localCheckpoints: the keyed frame
    (shingle sets + set key) is cached once, both outputs materialize
    through that single cache — the tokenizer and the per-element md5
    keying run exactly once per input row, instead of once per
    downstream materialization — and the transient cache is released
    before returning.  Lineage is cut, so callers may drop any upstream
    cache immediately and need no checkpoint of their own."""
    keyed = sets_df.persist()
    try:
        reps = keyed.groupBy("__setkey").agg(F.min("__id").alias("__rep"))
        mem_plan = (
            keyed.select("__setkey", "__id")
            .join(reps, "__setkey")
            .select("__id", "__rep")
        )
        rep_plan = (
            keyed.join(reps.select(F.col("__rep").alias("__id")), "__id")
            .select("__id", "__sh", "__sig")
        )
        # materialize BOTH eager checkpoints concurrently (guide §2.6
        # overlap independent jobs): they are independent consumers of
        # the one `keyed` cache — Spark's per-partition block locking
        # makes whichever job arrives first compute a cache partition
        # while the other waits, so the keying still runs once and the
        # second job's stages back-fill idle cores during the first's
        # tail.  Measured round 10 on leakage_audit at sf0.1
        # (interleaved min-of-3 ×4): 3.32 s median sequential → 3.04 s
        # concurrent, every pair in favor, across the 7 collapse
        # consumers.
        from concurrent.futures import ThreadPoolExecutor

        from merkonvectordb_spark.session import with_caller_context

        spark = keyed.sparkSession
        with ThreadPoolExecutor(2) as pool:
            fm = pool.submit(with_caller_context(
                spark, lambda: mem_plan.localCheckpoint(eager=True)
            ))
            fr = pool.submit(with_caller_context(
                spark, lambda: rep_plan.localCheckpoint(eager=True)
            ))
            membership, rep_sets = fm.result(), fr.result()
    finally:
        keyed.unpersist()
    return membership, rep_sets


def cap_band_rows(bands: DataFrame, band_freq_cap: int) -> DataFrame:
    """The LSH hot-bucket keep-rule — ONE copy, shared by the
    self-dedup candidate join and the fingerprint-store probe: each
    (band_id, band_key) bucket keeps its ``band_freq_cap`` LOWEST
    ``__id`` members (spillable per-bucket sort + row_number).  Any
    change to the rule (ordering, tie-breaking) lands in both
    consumers at once."""
    if band_freq_cap < 1:
        raise ValueError("band_freq_cap must be >= 1")
    wcap = Window.partitionBy("band_id", "band_key").orderBy("__id")
    return (
        bands.withColumn("__slot", F.row_number().over(wcap))
        .where(F.col("__slot") <= band_freq_cap)
        .drop("__slot")
    )


def candidate_pairs_from_sets(
    sets_df: DataFrame, band_freq_cap: int | None = None
) -> DataFrame:
    """LSH candidate pairs ``(a, b)`` with a < b from a shingle-set table:
    explode band keys, self-join per bucket.  The join key
    (band_id, band_key) hash-partitions both sides; bucket sizes are
    bounded by signature collisions, so the comparison count is
    Σ|bucket|² — NOT |corpus|².

    ``band_freq_cap`` (opt-in, default ``None`` = exact LSH semantics,
    zero cost) is the DENSITY lever for degenerate vocabularies
    (VERDICT r9 #2): template-heavy corpora make DISTINCT shingle sets
    collide so broadly that Σ|bucket|² itself goes quadratic (measured
    slope 2.0 on the 33-word adversarial fixture — 6.29 M candidates
    for ~60 true edges at sf10).  With a cap, each (band_id, band_key)
    bucket is deterministically sub-sampled to its ``cap`` LOWEST
    ``__id`` members (a spillable per-bucket sort + row_number — the
    standard LSH hot-bucket mitigation), so pair work is bounded by
    #buckets·C(cap, 2) — corpus-linear at any density.  Recall
    statement: a true pair is still found iff SOME band puts both
    endpoints inside that bucket's kept prefix; rare (informative)
    bands are never touched, only the hottest keys lose members —
    measured recall deltas per fixture live in SCALING.md round 10.
    Callers that pre-collapse identical sets (``near_dedup``,
    ``leakage_*``) keep exact-duplicate pairs REGARDLESS of the cap:
    within-group pairs never pass through banding."""
    bands = band_rows(sets_df)
    if band_freq_cap is not None:
        bands = cap_band_rows(bands, band_freq_cap)
    l = bands.alias("l")
    r = bands.alias("r")
    return (
        l.join(r, ["band_id", "band_key"])
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("a"), F.col("r.__id").alias("b"))
        .distinct()
    )


def leakage_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    splits: dict[str, int],
    threshold: float = 0.6,
    band_freq_cap: int | None = None,
) -> DataFrame:
    """Cross-split contamination audit without materializing the pair
    list: verified near-dup pair counts per unordered split pair,
    ``(split_lo, split_hi, n_pairs, leaked)``.

    ``band_freq_cap`` (opt-in): sub-sample hot LSH buckets at the
    REPRESENTATIVE level — see :func:`candidate_pairs_from_sets`.
    Within-group (identical-set) pairs never pass through banding, so
    the cap can only drop DISTINCT-set rep edges; counts are otherwise
    computed identically.

    Same factoring as :func:`leakage_quarantine`: pairs factor through
    exact groups, so per-(split, split) counts are products of
    per-group split histograms — a rep edge (X, Y) contributes
    ``hX[s1]·hY[s2] + hX[s2]·hY[s1]`` (or ``hX[s]·hY[s]`` on the
    diagonal) and a group X contributes its internal combinations
    ``hX[s1]·hX[s2]`` / ``C(hX[s], 2)``.  Work = groups + rep edges;
    values identical to the pair-materializing form (pinned in
    ``test_dedup``); split-pair rows with zero pairs are absent, as in
    the groupBy-over-pairs form."""
    names = sorted(splits)  # lexicographic == least/greatest order
    sets = shingle_analysis(df, id_col, text_col)
    # the collapse returns eager checkpoints (one fused Arrow pass)
    membership, rep_sets = collapse_identical_sets(sets)
    pairs = candidate_pairs_from_sets(rep_sets, band_freq_cap)
    edges = jaccard_edges_from_sets(rep_sets, pairs, threshold)
    from merkonvectordb_spark.operators.pipeline import hash_split

    mem = hash_split(
        membership.withColumnRenamed("__id", "doc_id"), "doc_id", splits
    )
    hist = mem.groupBy("__rep").agg(
        *[
            F.sum(
                F.when(F.col("split") == s, 1).otherwise(0)
            ).alias(f"h_{s}")
            for s in names
        ]
    )
    combos = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i, len(names))
    ]

    def _emit(rows_df, exprs):
        return rows_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lo).alias("split_lo"),
                            F.lit(hi).alias("split_hi"),
                            e.cast("bigint").alias("c"),
                        )
                        for (lo, hi), e in exprs
                    ]
                )
            ).alias("r")
        ).select("r.split_lo", "r.split_hi", "r.c")

    ha = hist.select(
        F.col("__rep").alias("a"),
        *[F.col(f"h_{s}").alias(f"a_{s}") for s in names],
    )
    hb = hist.select(
        F.col("__rep").alias("b"),
        *[F.col(f"h_{s}").alias(f"b_{s}") for s in names],
    )
    cross_rows = edges.join(ha, "a").join(hb, "b")
    cross = _emit(
        cross_rows,
        [
            (
                (lo, hi),
                F.col(f"a_{lo}") * F.col(f"b_{hi}")
                + (
                    F.col(f"a_{hi}") * F.col(f"b_{lo}")
                    if lo != hi
                    else F.lit(0)
                ),
            )
            for lo, hi in combos
        ],
    )
    within = _emit(
        hist,
        [
            (
                (lo, hi),
                F.col(f"h_{lo}") * F.col(f"h_{hi}")
                if lo != hi
                else F.expr(f"h_{lo} * (h_{lo} - 1) div 2"),
            )
            for lo, hi in combos
        ],
    )
    return (
        cross.unionByName(within)
        .groupBy("split_lo", "split_hi")
        .agg(F.sum("c").cast("bigint").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
        .withColumn("leaked", F.col("split_lo") != F.col("split_hi"))
    )


def leakage_quarantine(
    df: DataFrame,
    id_col: str,
    text_col: str,
    splits: dict[str, int],
    threshold: float = 0.6,
    band_freq_cap: int | None = None,
) -> DataFrame:
    """Cross-split leakage repair without materializing the pair list:
    for every verified near-dup pair straddling splits, the
    LOWER-priority endpoint (train > val > test) is quarantined;
    returns ``(doc_id, split, n_leak_edges)`` for every such doc.

    ``band_freq_cap`` (opt-in): sub-sample hot LSH buckets at the
    representative level — see :func:`candidate_pairs_from_sets`; exact
    (within-group) leak edges are cap-immune by construction.

    A doc's leak-edge count is exactly its count of HIGHER-priority
    partners, and partnership factors through exact groups: identical
    shingle sets always pair (Jaccard 1, identical band keys), and a
    member pair across two groups has its reps' Jaccard.  So the count
    is a split-HISTOGRAM lookup summed over the doc's own group and its
    verified-adjacent groups — members + rep-edges work, never pairs.
    The sf10 fixture's ~10k-doc identical boilerplate group costs 10k
    membership rows instead of its 50M true-answer pairs (round 9;
    246.6 s → linear).  Values are identical to the pair-materializing
    form (pinned in ``test_dedup`` on a split-straddling mega-group).

    ``splits`` must be the three-way ``{"train": w, "val": w,
    "test": w}`` split this repair rule is defined over."""
    from merkonvectordb_spark.operators.pipeline import hash_split

    if set(splits) != {"train", "val", "test"}:
        raise ValueError("leakage_quarantine needs train/val/test splits")
    sets = shingle_analysis(df, id_col, text_col)
    # the collapse returns eager checkpoints (one fused Arrow pass)
    membership, rep_sets = collapse_identical_sets(sets)
    pairs = candidate_pairs_from_sets(rep_sets, band_freq_cap)
    edges = jaccard_edges_from_sets(rep_sets, pairs, threshold)
    mem = hash_split(
        membership.withColumnRenamed("__id", "doc_id"), "doc_id", splits
    ).withColumn(
        "__rk",
        F.when(F.col("split") == "train", 0)
        .when(F.col("split") == "val", 1)
        .otherwise(2),
    )
    hist = mem.groupBy("__rep").agg(
        F.sum(F.when(F.col("__rk") == 0, 1).otherwise(0)).alias("h0"),
        F.sum(F.when(F.col("__rk") == 1, 1).otherwise(0)).alias("h1"),
    )
    # symmetric rep adjacency + self (the within-group term): H(x) =
    # Σ hist over {x} ∪ neighbors(x).  A doc never counts itself — it
    # is not lower-ranked than itself — and same-split partners are
    # excluded by construction (only strictly-lower ranks sum).
    adj = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(
            edges.select(F.col("b").alias("x"), F.col("a").alias("y"))
        )
        .unionByName(
            hist.select(
                F.col("__rep").alias("x"), F.col("__rep").alias("y")
            )
        )
    )
    H = (
        adj.join(hist.withColumnRenamed("__rep", "y"), "y")
        .groupBy("x")
        .agg(F.sum("h0").alias("H0"), F.sum("h1").alias("H1"))
        .withColumnRenamed("x", "__rep")
    )
    n = (
        F.when(F.col("__rk") == 0, F.lit(0))
        .when(F.col("__rk") == 1, F.col("H0"))
        .otherwise(F.col("H0") + F.col("H1"))
    )
    return (
        mem.join(H, "__rep")
        .withColumn("__n", n)
        .where(F.col("__n") > 0)
        .select(
            "doc_id",
            "split",
            F.col("__n").cast("bigint").alias("n_leak_edges"),
        )
    )


def jaccard_edges_from_sets(
    sets_df: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs only; keeps
    ``(a, b)`` with similarity ≥ threshold.  Two hash-joins against the
    shingle-set table — candidates are a vanishing fraction of the corpus,
    so both joins broadcast-or-shuffle on the tiny side."""
    a_sets = sets_df.select(F.col("__id").alias("a"), F.col("__sh").alias("sh_a"))
    b_sets = sets_df.select(F.col("__id").alias("b"), F.col("__sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.join(a_sets, "a")
        .join(b_sets, "b")
        .where(jac >= F.lit(threshold))
        .select("a", "b")
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20, driver_threshold: int = 200_000
) -> DataFrame:
    """Connected components of the (verified-edge) subgraph; every node
    labels to the smallest id reachable from it.  Returns
    ``(id, group_id)`` for nodes that appear in any edge.

    Adaptive execution: the dup-pair graph is orders of magnitude smaller
    than the corpus (only docs with a verified near-duplicate), so below
    ``driver_threshold`` edges a driver-side union-find answers from one
    collect of at most ``driver_threshold + 1`` edges — the same
    bounded-size-side reasoning as a broadcast join.  Above it,
    distributed min-label propagation (iterative joins with
    localCheckpoint lineage cuts; rounds = graph diameter — near-dup
    components are near-cliques, so 1-3 rounds in practice).
    """
    edges = edges.persist()
    id_type = edges.schema["a"].dataType.simpleString()
    small = edges.limit(driver_threshold + 1).collect()
    if len(small) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in small:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(x, find(x)) for x in parent]
        out = edges.sparkSession.createDataFrame(
            labels, f"id {id_type}, group_id {id_type}"
        )
        edges.unpersist()
        return out
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()
    edges.unpersist()  # fully consumed: sym is checkpoint-materialized
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.b == labels.id)
            .select(F.col("a").alias("id"), "label")
        )
        new_labels = (
            labels.select("id", "label")
            .union(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("group_id"))


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    exact_precollapse: bool = True,
    band_freq_cap: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: exact pre-collapse → MinHash → LSH
    buckets → exact-Jaccard verify → connected components.  Returns one
    row per input doc: ``(id_col, group_id, group_sz)`` — group_id is
    the min doc id of the near-dup component (self for singletons).

    ``exact_precollapse`` (on by default) is the identical-mega-group
    guard: docs with IDENTICAL shingle sets have Jaccard 1 to each
    other and the SAME signature/Jaccard against every third doc, so
    they are collapsed to their min-id representative before banding
    and star-expanded back afterwards — the OUTPUT is bit-identical
    (the representative is its exact group's min id, so component min
    ids are unchanged), but a g-sized identical group costs g rows
    instead of g²/2 candidate pairs + g² band-join rows.  That case is
    the realistic 100 TB adversary (license boilerplate duplicated
    millions of times makes Σ|bucket|² quadratic exactly where the
    corpus is dirtiest); measured on a corpus with a 2 % identical
    group, the sf1→sf3 growth exponent drops from 1.57 to ~linear
    (SCALING.md round-7).  The collapse key is the 128-bit md5 over the
    SORTED shingle set with each shingle md5-hashed first (fixed-width
    elements make the concatenation encoding unambiguous — a raw
    separator join would be injectable); set-canonical: same set in any
    order collapses; docs below the shingle window — empty sets — are
    excluded, preserving the pipeline's existing no-edge semantics for
    them.

    The shingle-set table is computed ONCE and persisted: banding, the
    Jaccard verify, and the CC lineage all reuse it instead of
    re-hashing the corpus per stage.

    ``band_freq_cap`` (opt-in): sub-sample hot LSH buckets — see
    :func:`candidate_pairs_from_sets`.  With ``exact_precollapse`` the
    cap acts on representatives only, so exact-duplicate groups always
    cluster regardless of the cap."""
    sets_all = shingle_analysis(df, id_col, text_col)
    membership = None
    cached = None
    if exact_precollapse:
        # the collapse itself lives in collapse_identical_sets — ONE
        # copy of the correctness-critical __setkey scheme (ADVICE
        # round-9 #4).  The helper materializes membership and the
        # rep-set table through a SINGLE internal cache (tokenizer and
        # md5 keying run once) and returns eager checkpoints, so no
        # caller-side persist is needed and lineage is already cut for
        # the final expansion join below.
        membership, sets_df = collapse_identical_sets(sets_all)
    else:
        cached = sets_df = sets_all.persist()
    pairs = candidate_pairs_from_sets(sets_df, band_freq_cap)
    edges = jaccard_edges_from_sets(sets_df, pairs, threshold)
    labels = connected_components(edges)
    # CC materialized the edge list (count + collect/checkpoint), so the
    # shingle cache (non-precollapse path) has served all its consumers
    # — free it; the expansion below references only labels and the
    # checkpointed membership frame
    if cached is not None:
        cached.unpersist()
    if membership is not None:
        # star expansion: every doc inherits its representative's
        # component label; an exact group whose rep has no near-dup
        # edge still clusters on the rep itself (coalesce)
        labels = membership.join(
            labels.withColumnRenamed("id", "__rep"), "__rep", "left"
        ).select(
            F.col("__id").alias("id"),
            F.coalesce("group_id", F.col("__rep")).alias("group_id"),
        )
    out = (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("group_id", F.col(id_col)).alias("group_id"),
        )
    )
    w = Window.partitionBy("group_id")
    return out.withColumn("group_sz", F.count(F.lit(1)).over(w))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup with PREFIX FILTERING (AllPairs/PPJoin candidate
# bound).  Third family next to MinHash (probabilistic, signature-based) and
# SimHash (Hamming-space): this one is EXACT — prefix filtering is a
# lossless filter, so the output is precisely every pair with char-n-gram
# Jaccard >= t, no recall tuning.  The scale lever: under a global
# rarest-first gram order, two sets with J >= t MUST share a gram within
# their first (s - ceil(t*s) + 1) grams, so only those prefixes join —
# and rare grams make small buckets.  Char grams (not word shingles) on
# purpose: their universe is far larger, so prefix buckets stay tiny —
# measured 3k candidates vs 120k for word trigrams on the same corpus.
# ---------------------------------------------------------------------------

NGRAM_N = 15  # chars per gram
NGRAM_T_NUM, NGRAM_T_DEN = 4, 5  # threshold 0.8 as an exact rational


def char_ngram_key_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = NGRAM_N
) -> DataFrame:
    """``(__id, gkey)`` distinct char-n-gram rows: each gram folded to a
    60-bit BIGINT key (first 15 md5 hex chars — the codec every dedup
    oracle mirrors).

    One Arrow ``mapInPandas`` pass builds each doc's gram SET in Python —
    chosen over the two JVM formulations after measuring all three at
    sf0.1: a higher-order ``transform`` into an array is CodegenFallback
    (interpreted per element, 15s); explode(sequence)+substr+md5 is
    codegen but needs a 1.4M-row global ``distinct`` shuffle for set
    semantics (~4s); the pandas pass dedups per doc in-memory and ships
    only 16-byte rows, no shuffle at all (<1s).  The 8-byte key then
    replaces the n-char string in every downstream shuffle/sort/join.
    Key collisions (p ≈ 2⁻⁶⁰ per pair) would merge two grams in both
    engines identically — the oracle folds the same way.
    """
    import re as _re

    import pandas as pd

    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).repartition(par)
    # carry the caller's id TYPE through the Arrow pass — a hardcoded
    # LONG would break (or silently coerce) string ids the API accepts
    id_ddl = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        # the EXACT whitespace class RE2's \s matches ([\t\n\f\r ] —
        # ASCII, no \v), replace-then-strip-spaces order: Python's
        # unicode .strip()/\s and DuckDB's space-only trim() otherwise
        # normalize 'x\n' differently ('x' vs 'x ') and the engines'
        # gram sets silently diverge.  Mirrored in the queries_dedup
        # oracle as trim(regexp_replace(lower(text), ...)).
        ws = _re.compile(r"[ \t\n\f\r]+")
        for pdf in batches:
            ids: list = []
            keys: list = []
            sizes: list = []
            for i, t in zip(pdf["__id"], pdf["__text"]):
                if t is None:
                    continue
                tt = ws.sub(" ", t.lower()).strip(" ")
                if len(tt) < n:
                    continue
                gset = {tt[j : j + n] for j in range(len(tt) - n + 1)}
                for g in gset:
                    ids.append(i)
                    keys.append(py_md5_hash60(g.encode("utf-8")))
                    sizes.append(len(gset))
            yield pd.DataFrame({"__id": ids, "gkey": keys, "__s": sizes})

    # __s (the doc's set size) rides along denormalized: downstream needs
    # it per row anyway and computing it here saves a full-partition
    # count window (an extra sort pass over every gram row)
    return src.mapInPandas(
        gen, f"__id {id_ddl}, gkey LONG, __s LONG"
    )


class PairExplosionError(RuntimeError):
    """The OUTPUT of a pair-semantics dedup operator would exceed the
    caller's ``max_pairs`` bound.  Pair semantics are quadratic in group
    size — an identical/near-identical mega-group of g docs contributes
    g·(g−1)/2 pairs to the TRUE ANSWER, so on a boilerplate-heavy 100 TB
    corpus the pair list itself explodes no matter how the operator is
    implemented.  This error fires from a cheap counting job BEFORE the
    expansion joins materialize anything output-sized — loud failure
    instead of a silent executor OOM (VERDICT r7 #2)."""


def _guard_pair_bound(
    rep_pairs: DataFrame,
    membership: DataFrame | None,
    max_pairs: int,
    op_name: str,
) -> DataFrame:
    """Exact output-pair count from the PRE-expansion frames: within-
    group pairs are Σ g·(g−1)/2 over the collapse groups, cross-group
    pairs are Σ |ga|·|gb| over the rep pairs — two aggregate-only jobs,
    output-size never materialized.  Raises ``PairExplosionError`` when
    the total exceeds ``max_pairs``; otherwise returns ``rep_pairs``
    persisted (the counting job warmed the cache the returned plan
    reuses, so the guard's second scan is free)."""
    rep_pairs = rep_pairs.persist()
    if membership is None:
        total = rep_pairs.count()
    else:
        sizes = membership.select("__rep", F.size("__m").alias("__g"))
        within = sizes.agg(
            F.coalesce(
                F.sum(F.expr("__g * (__g - 1) div 2")), F.lit(0)
            ).alias("n")
        ).first()["n"]
        ga = sizes.select(F.col("__rep").alias("a"), F.col("__g").alias("__ga"))
        gb = sizes.select(F.col("__rep").alias("b"), F.col("__g").alias("__gb"))
        cross = (
            rep_pairs.join(ga, "a")
            .join(gb, "b")
            .agg(
                F.coalesce(F.sum(F.col("__ga") * F.col("__gb")), F.lit(0)).alias("n")
            )
            .first()["n"]
        )
        total = int(within) + int(cross)
    if total > max_pairs:
        rep_pairs.unpersist()
        raise PairExplosionError(
            f"{op_name}: output would be {total} pairs > max_pairs="
            f"{max_pairs}.  The pair list is the true answer's size "
            "(quadratic in near-dup group size), not an implementation "
            "artifact — for high-self-similarity corpora use the grouped "
            "near_dedup() output (one row per doc), or raise max_pairs."
        )
    return rep_pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    t_num: int = NGRAM_T_NUM,
    t_den: int = NGRAM_T_DEN,
    exact_precollapse: bool = True,
    max_pairs: int | None = None,
) -> DataFrame:
    """Every pair ``(a, b, jaccard)`` with char-n-gram Jaccard >= t_num/t_den.

    Stages (each shuffle bounded, never all-pairs):
    1. distinct gram-key rows per doc (codegen; 8-byte keys — see
       :func:`char_ngram_key_rows`);
    2. document frequency per gram (one window over the key
       partitioning — at 100 TB this is the classic IDF job);
    3. per-doc rarest-first ranking (one window) and prefix truncation at
       ``s - ceil(t·s) + 1`` grams — the prefix-filter theorem's bound;
    4. candidate pairs: equi-join of prefixes on the key;
    5. exact verify as relational set intersection: semi-join the gram
       rows down to candidate docs, two equi-joins + count, then integer
       cross-multiplication (``inter·t_den >= t_num·(sa+sb-inter)``) — no
       float threshold, so the Spark and oracle decisions are
       bit-identical.

    ``exact_precollapse`` (on by default) is the identical-mega-group
    guard, keyed here on identical NORMALIZED TEXT (same ws-collapse +
    lowercase the gram generator applies): byte-identical boilerplate
    duplicated g times shares its rarest gram, so the prefix bucket —
    and the verify stage's full-set intersections — went g²/2.  Text-
    identical docs collapse to their min-id representative BEFORE gram
    generation (members are never even shingled) and the pair list is
    star-expanded after: members inherit their rep pair's jaccard
    (identical text ⇒ identical gram set), within-group pairs emit
    jaccard 1.0 ≥ any threshold ≤ 1.  Docs whose normalized text is
    shorter than the gram window have NO grams and never pair — the
    collapse preserves that by excluding them from membership.

    ``max_pairs`` defaults to ``None`` — zero cost, and the registered
    oracle replays the unbounded form.  Production callers at scale
    should SET it (e.g. ``max_pairs=10 * corpus_rows``): pair output is
    quadratic in every near-identical group, and the guard converts a
    silent multi-hour quadratic verify into an immediate
    ``PairExplosionError`` computed from pre-expansion aggregates —
    e.g.::

        ngram_jaccard_pairs(docs, max_pairs=10 * docs.count())

    On explosion, switch to ``near_dedup`` (one row per doc) — group
    semantics, not pair semantics, are the 100 TB answer shape."""
    # persist(), deliberately: the caches serve multi-consumer SUBTREE
    # SHARING inside the single returned plan (prefix feeds both join
    # sides, cand three consumers) — only persist gives that (a
    # checkpoint materializes after the first job, so intra-job paths
    # recompute; measured 5x slower either way).  The cost is that the
    # blocks stay pinned until Python GC + ContextCleaner collect them
    # after the caller drops the returned frame.
    membership = None
    src = df
    if exact_precollapse:
        # EXACTLY the gram generator's normalization ([ \t\n\f\r] — NO
        # \x0b, matching char_ngram_key_rows and the mirrored oracle;
        # including \v here once wrongly collapsed docs that differ
        # only by a vertical tab, emitting a false jaccard=1.0 pair)
        # plus lowercase + collapse + trim, so the length guard below
        # equals its `len(tt) < n` skip
        norm = F.trim(
            F.regexp_replace(F.lower(F.col(text_col)), "[ \t\n\f\r]+", " ")
        )
        keyed = (
            df.select(
                F.col(id_col).alias("__id"),
                F.md5(norm).alias("__tk"),
                F.length(norm).alias("__len"),
            )
            .where(F.col("__len") >= n)
            .drop("__len")
        )
        membership = (
            keyed.groupBy("__tk")
            .agg(
                F.min("__id").alias("__rep"),
                F.collect_list("__id").alias("__m"),
            )
            .persist()
        )
        src = df.join(
            membership.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
        )
    grams = char_ngram_key_rows(src, id_col, text_col, n).persist()
    # df as a window over the key partitioning: saves the groupBy+join
    # round trip of a separate frequency table
    with_df = grams.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("gkey"))
    )
    w = Window.partitionBy("__id").orderBy(F.asc("__df"), F.asc("gkey"))
    ranked = with_df.withColumn("__rn", F.row_number().over(w))
    # persist the reused frames: prefix feeds BOTH sides of the self-join
    # and cand feeds three consumers (id-set union × 2 + the verify join) —
    # without caching, each consumer would recompute the whole window
    # cascade above it
    prefix = ranked.where(
        F.col("__rn")
        <= F.col("__s")
        - F.expr(f"({t_num} * __s + {t_den - 1}) div {t_den}")
        + 1
    ).select("__id", "gkey").persist()
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "gkey")
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("a"), F.col("r.__id").alias("b"))
        .distinct()
        .persist()
    )
    # verify: prune the gram table to candidate docs (a vanishing fraction
    # of the corpus — no broadcast hint, AQE picks), rebuild their gram
    # sets as sorted LONG arrays with one groupBy, then two joins against
    # the (tiny) set table and an array intersection.  Three stages total;
    # the relational two-equi-join intersection costs ~8 exchange barriers
    # and measured 4s slower at sf0.1 on pure scheduling overhead.
    cand_ids = (
        cand.select(F.col("a").alias("__id"))
        .unionByName(cand.select(F.col("b").alias("__id")))
        .distinct()
    )
    csets = (
        grams.join(cand_ids, "__id", "left_semi")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("gkey")).alias("__g"))
    )
    ga = csets.select(F.col("__id").alias("a"), F.col("__g").alias("g_a"))
    gb = csets.select(F.col("__id").alias("b"), F.col("__g").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    rep_pairs = (
        cand.join(ga, "a")
        .join(gb, "b")
        .where(inter * t_den >= t_num * union)
        .select(
            "a",
            "b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )
    if max_pairs is not None:
        rep_pairs = _guard_pair_bound(
            rep_pairs, membership, max_pairs, "ngram_jaccard_pairs"
        )
    if membership is None:
        return rep_pairs
    # star expansion (see simhash_near_pairs): cross-group pairs carry
    # the rep pair's jaccard; within-group pairs are exactly 1.0
    ma = membership.select(F.col("__rep").alias("a"), F.col("__m").alias("ma"))
    mb = membership.select(F.col("__rep").alias("b"), F.col("__m").alias("mb"))
    cross = (
        rep_pairs.join(ma, "a")
        .join(mb, "b")
        .select(F.explode("ma").alias("ia"), F.col("mb"), F.col("jaccard"))
        .select(F.col("ia"), F.explode("mb").alias("ib"), F.col("jaccard"))
        .select(
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "jaccard",
        )
    )
    within = (
        membership.where(F.size("__m") > 1)
        .select(F.explode("__m").alias("ia"), F.col("__m"))
        .select("ia", F.explode("__m").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("a"),
            F.col("ib").alias("b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# SimHash near-dup: 60-bit fingerprints + chunk banding.  Complementary to
# MinHash: SimHash weights by term frequency and compares in Hamming space,
# so it's cheaper per doc (one fingerprint vs a signature) and its banding
# is a pigeonhole GUARANTEE: with C chunks, every pair within Hamming
# distance C-1 shares at least one exact chunk.  Chunk width tunes the
# candidate rate at scale: 6x10 bits here (fixture-sized); a web-scale
# corpus wants 4x15 (random-pair chunk-collision ~2^-15).
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars -> exact BIGINT in both engines
SIMHASH_CHUNKS = 6
_CHUNK_WIDTH = SIMHASH_BITS // SIMHASH_CHUNKS


def token_hashes60(text: Column) -> Column:
    """Per-token 60-bit hashes (md5 hex fold — same codec as the MinHash
    base hash, without the prime-field reduction)."""
    from merkonvectordb_spark.functions.text import tokenize

    return F.transform(
        tokenize(text),
        lambda t: md5_hash60(t),
    )


def simhash_fingerprint(text: Column) -> Column:
    """60-bit SimHash: bit i of the fingerprint is 1 iff the sum over
    tokens of ±1 (per the token-hash's bit i) is positive.  Term
    frequency weights naturally (multiset, not distinct).

    Single pass over the token hashes: one fold whose accumulator is the
    60-long bit-sum array (``zip_with`` against a powers-of-two literal
    tests each bit via ``x & 2^i``).  The naive form — 60 separate
    ``aggregate`` folds — re-walks the array per bit and blows the
    codegen method size into interpreted fallback (~30× slower measured
    at sf0.1)."""
    hs = token_hashes60(text)
    pows = F.lit([1 << i for i in range(SIMHASH_BITS)])  # one literal node
    sums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, x: F.zip_with(
            acc,
            pows,
            lambda a, p: a + F.when(x.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums, pows, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_fingerprint_rows(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(__id, __fp)`` SimHash fingerprints via one Arrow
    ``mapInPandas`` pass — the fast path ``simhash_near_pairs`` uses.

    Computes the EXACT value of the ``simhash_fingerprint`` expression
    (pinned by ``test_dedup``): same 60-bit md5 fold per token
    (``py_md5_hash60`` ≡ ``md5_hash60``), same TF weighting, same
    bit-majority rule; tokenization mirrors the JVM ``tokenize``
    (split on Java's ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]``, lowercase,
    drop empties).  Docs with no tokens are EXCLUDED (they would all
    fingerprint to 0 and band together) — callers get the
    ``token_count > 0`` filter built in.

    Why not the expression: the fingerprint fold is a higher-order
    ``aggregate``/``zip_with`` chain — CodegenFallback, interpreted per
    (token × bit) = ~2,700 lambda evaluations per doc.  The scale probe
    measured the interpreted path at 97.7 s for 50k docs (sf1); this
    pass hashes each DISTINCT token once per batch (dict cache) and
    folds bits as one numpy matrix op per doc."""
    import re as _re

    import numpy as np
    import pandas as pd

    par = df.sparkSession.sparkContext.defaultParallelism
    id_ddl = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).repartition(par)

    def gen(batches):
        ws = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, not Python \s
        pows = np.left_shift(
            np.uint64(1), np.arange(SIMHASH_BITS, dtype=np.uint64)
        )
        cache: dict = {}
        for pdf in batches:
            ids: list = []
            fps: list = []
            for i, t in zip(pdf["__id"], pdf["__text"]):
                toks = [w for w in ws.split((t or "").lower()) if w]
                if not toks:
                    continue
                hs = np.fromiter(
                    (
                        cache[w]
                        if w in cache
                        else cache.setdefault(
                            w, py_md5_hash60(w.encode("utf-8"))
                        )
                        for w in toks
                    ),
                    dtype=np.uint64,
                    count=len(toks),
                )
                ones = (hs[:, None] & pows != 0).sum(axis=0, dtype=np.int64)
                fp = int(pows[2 * ones > len(toks)].sum(dtype=np.uint64))
                ids.append(i)
                fps.append(fp)
            yield pd.DataFrame(
                {"__id": ids, "__fp": pd.array(fps, dtype="int64")}
            )

    return src.mapInPandas(gen, f"__id {id_ddl}, __fp LONG")


def simhash_chunk_keys(fp: Column) -> Column:
    """C chunk keys (pigeonhole banding): any pair with Hamming distance
    < C shares at least one chunk."""
    return F.array(
        *[
            F.shiftright(fp, c * _CHUNK_WIDTH).bitwiseAND(
                F.lit((1 << _CHUNK_WIDTH) - 1)
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    max_pairs: int | None = None,
) -> DataFrame:
    """Near-dup pairs ``(a, b, hamming)`` by SimHash chunk banding + exact
    Hamming verify.  Same bucket-bounded shape as the MinHash pipeline:
    the chunk self-join is an equi-join on (chunk_id, chunk_key).

    Recall contract: the pigeonhole guarantee covers hamming ≤
    SIMHASH_CHUNKS − 1 (= 5); pairs in (5, max_hamming] are reported
    only when their differing bits happen to leave one chunk intact —
    banding-dependent recall, mirrored identically by the oracle.
    Tighten ``max_hamming`` to 5 (or raise SIMHASH_CHUNKS) when the
    guarantee must be total.

    Identical-fingerprint collapse (round 7, SCALING.md): docs sharing
    a fingerprint are hamming-0 pairs of each other and have the SAME
    distance to every third doc, so banding/verify runs over DISTINCT
    fingerprints only and the pair list is expanded afterwards.  The
    output is unchanged (pair semantics make an identical mega-group's
    g²/2 pairs part of the ANSWER), but the g² work moves out of the
    skewed bucket self-join + 6·g² distinct + double verify join into
    two plain expansion joins — measured at sf3 with a 3,000-doc
    identical group: 354 s → linear-regime seconds for the
    banding/verify stages, with the expansion join bounded by the true
    output size.

    ``max_pairs`` defaults to ``None`` (zero cost; the registered
    oracle replays the unbounded form).  Production callers at scale
    should set it — see :func:`ngram_jaccard_pairs` for the rationale
    and sizing rule; on ``PairExplosionError`` switch to group-semantics
    ``near_dedup`` output."""
    # Arrow fast path (no-token docs excluded inside — they would all
    # fingerprint to 0 and band together); value-identical to the
    # simhash_fingerprint expression, pinned by test_dedup.
    fps_all = simhash_fingerprint_rows(df, id_col, text_col)
    # one row per DISTINCT fingerprint: rep = min member id.  Lazy
    # persist (not an eager checkpoint): banding, both verify joins,
    # and both expansion joins are all subtrees of the ONE returned
    # plan, so the cache fills on first use — no extra job, which
    # keeps the no-duplicate corpus (every group a singleton) at the
    # old pipeline's cost
    membership = (
        fps_all.groupBy("__fp")
        .agg(F.min("__id").alias("__rep"), F.collect_list("__id").alias("__m"))
        .persist()
    )
    fps = membership.select(F.col("__rep").alias("__id"), "__fp")
    chunks = fps.select(
        "__id",
        F.posexplode(simhash_chunk_keys(F.col("__fp"))).alias(
            "chunk_id", "chunk_key"
        ),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    pairs = (
        l.join(r, ["chunk_id", "chunk_key"])
        .where(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("a"), F.col("r.__id").alias("b"))
        .distinct()
    )
    fa = fps.select(F.col("__id").alias("a"), F.col("__fp").alias("fp_a"))
    fb = fps.select(F.col("__id").alias("b"), F.col("__fp").alias("fp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    rep_pairs = (
        pairs.join(fa, "a")
        .join(fb, "b")
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    # loud output-bound guard (VERDICT r7 #2): on a boilerplate-heavy /
    # high-self-similarity corpus (measured: the sf3 synthetic, 123.5M
    # genuine hamming<=7 pairs) the TRUE pair list is quadratic in
    # near-dup group size — raise before the expansion joins
    # materialize anything output-sized rather than OOM; the grouped
    # near_dedup() (one row per doc) is the scalable alternative
    if max_pairs is not None:
        rep_pairs = _guard_pair_bound(
            rep_pairs, membership, max_pairs, "simhash_near_pairs"
        )
    # expansion 1 — cross-group: every member of a's group pairs with
    # every member of b's group at the reps' hamming (identical
    # fingerprints ⇒ identical distances); least/greatest restores the
    # a < b output contract when group id ranges interleave
    ma = membership.select(F.col("__rep").alias("a"), F.col("__m").alias("ma"))
    mb = membership.select(F.col("__rep").alias("b"), F.col("__m").alias("mb"))
    cross = (
        rep_pairs.join(ma, "a")
        .join(mb, "b")
        .select(
            F.explode("ma").alias("ia"), F.col("mb"), F.col("hamming")
        )
        .select(
            F.col("ia"), F.explode("mb").alias("ib"), F.col("hamming")
        )
        .select(
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "hamming",
        )
    )
    # expansion 2 — within-group: hamming-0 pairs among the members of
    # each shared fingerprint (g²/2 rows — the true answer's size)
    within = (
        membership.where(F.size("__m") > 1)
        .select(F.explode("__m").alias("ia"), F.col("__m"))
        .select("ia", F.explode("__m").alias("ib"))
        .where(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("a"),
            F.col("ib").alias("b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def fuzzy_self_join(
    df: DataFrame,
    str_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance self-join (entity resolution / spell-candidate
    matching): all unordered pairs with ``levenshtein ≤ max_dist``,
    WITHOUT the all-pairs cross product.

    Blocking is the length band: two strings within distance d differ
    in length by at most d, so each string is emitted into blocks
    ``len .. len+d`` and a pair meets where the block equals the LONGER
    string's length — exactly once, no cross-block dedup pass.  The
    blocking is lossless (a pure consequence of the edit-distance
    metric), which is why the oracle can be the brute-force
    formulation.  At scale, length alone is a coarse partition — the
    production composition adds the rarest-q-gram prefix filter
    (``ngram_jaccard_pairs``'s machinery) INSIDE each band; the
    verify-with-levenshtein stage is unchanged.

    Returns (s1, s2, dist) with s1 < s2.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    base = df.select(F.col(str_col).alias("s")).where(
        F.col("s").isNotNull()
    ).distinct()
    blocks = base.select(
        "s",
        F.length("s").alias("len"),
        F.explode(
            F.array(*[F.length("s") + F.lit(i) for i in range(max_dist + 1)])
        ).alias("block"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.s") < F.col("b.s"))
        & (
            F.col("a.block")
            == F.greatest(F.col("a.len"), F.col("b.len"))
        ),
    )
    return (
        pairs.withColumn(
            "dist", F.levenshtein(F.col("a.s"), F.col("b.s"))
        )
        .where(F.col("dist") <= max_dist)
        .select(
            F.col("a.s").alias("s1"),
            F.col("b.s").alias("s2"),
            F.col("dist").cast("bigint").alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination: cross-corpus n-gram overlap
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE_N,
    min_hits: int = 2,
) -> DataFrame:
    """Flag training documents that share ≥ ``min_hits`` distinct n-gram
    shingles with any eval document — the decontamination pass every
    training-data pipeline runs before a benchmark is trustworthy.

    Returns ``(train_id, eval_id, shared_ngrams, containment)`` where
    ``containment`` = shared / |eval doc's distinct grams| (1.0 ⇒ the
    eval doc is fully contained in the training doc's gram set).

    Plan shape for 100 TB train × small eval: the eval side's distinct
    grams BROADCAST (benchmarks are thousands of docs, not billions), so
    the train gram stream filters map-side — no shuffle of the exploded
    train grams for the join; only the (train, eval) hit pairs reach the
    partial-agg shuffle.  Each side explodes DISTINCT grams per doc, so
    the pair count equals distinct shared grams with no count-distinct
    state.
    """
    # shingling is CPU-bound interpreted-expression work: spread the
    # train side across all cores instead of inheriting 1-2 scan splits
    # (same rule as the MinHash/SimHash stages; a many-file 100 TB table
    # parallelizes naturally and AQE elides the no-op exchange)
    par = train.sparkSession.sparkContext.defaultParallelism
    tr = train.repartition(par).select(
        F.col(id_col).alias("train_id"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("gram"),
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), n))
        ).alias("gram"),
    )
    evn = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("__n_ev"))
    hits = (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_hits)
    )
    return (
        hits.join(F.broadcast(evn), "eval_id")
        .withColumn(
            "containment",
            F.round(
                F.col("shared_ngrams").cast("double") / F.col("__n_ev"), 6
            ),
        )
        .select("train_id", "eval_id", "shared_ngrams", "containment")
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span detection / removal (substring dedup)
# ---------------------------------------------------------------------------

DUPSPAN_N = 8  # span granularity in tokens (Lee et al. use 50 BPE tokens)


def span_gram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = DUPSPAN_N
) -> DataFrame:
    """One row per token-``n``-gram OCCURRENCE: (id, pos, gh).

    ``pos`` is the 1-based token index where the gram starts; ``gh`` is
    the 60-bit md5-fold of the gram string (same cross-engine codec as
    the MinHash base hash).  Collisions between distinct grams are
    possible but deterministic and mirrored in the oracle; at 60 bits
    they are ~absent below 2^30 distinct grams per corpus shard.

    Formulation: posexplode tokens, then build each gram with n-1
    ``lead`` steps over a per-document window.  The HOF alternative
    (``transform`` over ``word_shingles``) re-evaluates the tokenizer
    split PER ARRAY ELEMENT (lambda subexpressions are not hoisted),
    which is O(tokens²) per document — measured 10× slower.  The window
    costs one (id, pos) shuffle, but the callers' next stage re-shuffles
    by gram hash anyway; total rows stay linear in token count.
    """
    from merkonvectordb_spark.functions.text import tokenize

    toks = df.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("pos0", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos0")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", i).over(w) for i in range(1, n)]
    )
    n_toks = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    return (
        toks.withColumn("__gram", gram)
        .withColumn("__nt", n_toks)
        .where(F.col("pos0") + n <= F.col("__nt"))
        .select(
            id_col,
            (F.col("pos0") + 1).alias("pos"),
            md5_hash60(F.col("__gram")).alias("gh"),
        )
    )


def _span_runs(marked: DataFrame, id_col: str, n: int) -> DataFrame:
    """Maximal consecutive runs (gaps-and-islands) of marked gram
    positions per document → (id, run_grams, start_pos, end_pos) where
    [start_pos, end_pos] is the covered TOKEN interval."""
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(w_doc)
    )
    return isl.groupBy(id_col, "grp").agg(
        F.count(F.lit(1)).alias("run_grams"),
        F.min("pos").alias("start_pos"),
        (F.max("pos") + F.lit(n - 1)).alias("end_pos"),
    )


def _interval_union(runs: DataFrame, id_col: str) -> DataFrame:
    """Union-of-intervals token coverage per id (classic running-max
    island merge; runs per doc are few, the window input is tiny)."""
    w = Window.partitionBy(id_col).orderBy("start_pos")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    u = (
        runs.withColumn("prev_end", F.max("end_pos").over(w_prev))
        .withColumn(
            "new_flag",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("start_pos") > F.col("prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("cover_grp", F.sum("new_flag").over(w))
    )
    cov = u.groupBy(id_col, "cover_grp").agg(
        (F.max("end_pos") - F.min("start_pos") + 1).alias("cov_tokens")
    )
    return cov.groupBy(id_col).agg(
        F.sum("cov_tokens").cast("bigint").alias("dup_tokens")
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DUPSPAN_N,
) -> DataFrame:
    """Per-document exact duplicated-span statistics (substring-dedup
    screening, Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better").

    A token ``n``-gram occurrence is *duplicated* when its gram value
    occurs ≥2 times anywhere in the corpus (cross- or within-document).
    Consecutive duplicated positions merge into maximal runs; run token
    intervals are union-merged for exact coverage.  All outputs are
    integers — hash-stable across engines.

    Columns: id, n_tokens, n_dup_grams, n_runs, max_run_tokens,
    dup_tokens (union token coverage).

    Scale: ONE corpus-wide partial-agg shuffle on the gram hash (the
    occurrence count — map-side combined, never a sort-window over the
    gram table), a broadcast join of the small duplicated-gh frame, and
    then per-document stages over duplicated occurrences only (second
    shuffle on id, then reused).  A pathological boilerplate span is a
    skewed gram key (AQE skew handling applies).  No all-pairs stage
    exists at any point.
    """
    from merkonvectordb_spark.functions.text import token_count

    # persist: two consumers below (the count aggregate and the join
    # probe side) would otherwise each re-execute the tokenize+window
    # gram lineage
    g = span_gram_rows(df, id_col, text_col, n).persist()
    # duplicated-occurrence detection as partial-agg groupBy + join, NOT
    # a count window over every gram row: the window form sorts the
    # ENTIRE gram table by gh (at sf10 that sort was the dominant cost —
    # wall slope 1.44 measured round 8), while duplicated ghs are a few
    # percent of grams and their count frame is megabytes — AQE
    # broadcasts it, so the gram table is never sorted and only
    # duplicated occurrences reach the per-document stages (post-fix
    # slope 0.69 at the same decade).
    dup_counts = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") > 1)
    )
    marked = g.join(dup_counts, "gh")
    runs = _span_runs(marked, id_col, n)
    per_doc = runs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("run_grams").cast("bigint").alias("n_dup_grams"),
        (F.max(F.col("end_pos") - F.col("start_pos")) + 1)
        .cast("bigint")
        .alias("max_run_tokens"),
    )
    cov = _interval_union(runs, id_col)
    base = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .join(cov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_runs", F.lit(0)).alias("n_runs"),
            F.coalesce("max_run_tokens", F.lit(0)).alias("max_run_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DUPSPAN_N,
) -> DataFrame:
    """Drop every duplicated span's NON-FIRST occurrences from the text
    (corpus-first occurrence = min (id, pos) per gram — kept).

    A token is removed iff it lies inside the union coverage of
    *redundant* gram runs (occurrences ranked >1).  Output:
    id, n_tokens_before, n_tokens_after, text_dedup (surviving tokens
    re-joined in order; '' when fully covered).

    Scale: same two-shuffle shape as ``duplicated_span_stats`` plus one
    explode of covered positions (≤ token count — linear) and a
    doc-keyed join of removed-position sets back onto the corpus scan.
    Reassembly is SCAN-LOCAL (VERDICT r8 #3): the old form exploded
    every token, left-anti-joined the covered positions, and rebuilt
    each doc with a collect_list + array_sort — a full-corpus token
    shuffle with a heavy per-doc sort that measured slope 1.19 at sf10
    even though only ~3 % of tokens are ever removed.  Now only the
    REMOVED positions (coverage of redundant runs) aggregate per doc —
    a frame proportional to the duplication, not the corpus — and each
    affected doc filters its token array in place with a JVM
    higher-order function; unaffected docs never shuffle a token.
    """
    from merkonvectordb_spark.functions.text import tokenize

    # persist: the gram table now has TWO consumers (the duplicated-gh
    # aggregate and the semi-join probe side) — without the cache each
    # consumer re-executes the tokenize+lead-window lineage (measured:
    # the re-execution more than gave back the window saving below)
    g = span_gram_rows(df, id_col, text_col, n).persist()
    # Redundant-occurrence detection WITHOUT any per-gh sort: the rank
    # was only ever consumed as ``rk > 1``, i.e. "not the corpus-first
    # (min (id, pos)) occurrence" — so compute that min as a partial
    # aggregate (map-side combinable, skew-immune) and exclude it with
    # a broadcast join.  The round-8 form window-ranked the duplicated
    # occurrences, but the fixture has only ~154 duplicated ghs at sf10
    # carrying 570k occurrences — a PARTITION BY gh sort lands almost
    # entirely on a handful of tasks and re-bends the curve the dup-gh
    # pre-filter had just fixed (measured: removal slope 1.18 while the
    # window's input grew at 0.92).  The dup-gh stats frame stays
    # megabytes at any corpus size with bounded gram repetition.
    gh_first = (
        g.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
            ).alias("__first"),
        )
        .where(F.col("__c") > 1)
        .select("gh", "__first")
    )
    redundant = (
        g.join(gh_first, "gh")
        .where(
            ~(
                (F.col(id_col) == F.col("__first.i"))
                & (F.col("pos") == F.col("__first.p"))
            )
        )
        .drop("__first")
    )
    runs = _span_runs(redundant, id_col, n)
    covered = runs.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("start_pos"), F.col("end_pos"))
        ).alias("pos"),
    ).distinct()
    # per-doc removed-position sets: |rows| = affected docs only, each
    # set ≤ that doc's token count — duplication-sized, never
    # corpus-sized
    removed = covered.groupBy(id_col).agg(
        F.collect_set("pos").alias("__rm")
    )
    from merkonvectordb_spark.functions.text import token_count

    base = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens_before"),
        tokenize(F.col(text_col)).alias("__toks"),
    )
    # Kept POSITIONS via array_except (hash-set semantics, O(len+|rm|)
    # per doc, order-preserving on the first operand), then an O(1)
    # element_at per survivor.  NOT an indexed-lambda filter with
    # array_contains — that form measured 2.4 s → 28.6 s at sf3→sf10
    # (super-linear) vs 2.3 s → 7.6 s for this one (slope ~1.0) on
    # identical inputs.  Positions are 1-based (pos0 + 1 upstream);
    # unaffected docs (null __rm) keep their array untouched; the
    # empty-array guard avoids sequence(1, 0)'s DESCENDING [1, 0].
    kept_arr = F.when(F.col("__rm").isNull(), F.col("__toks")).otherwise(
        F.when(F.size("__toks") == 0, F.col("__toks")).otherwise(
            F.transform(
                F.array_except(
                    F.sequence(F.lit(1), F.size("__toks")), F.col("__rm")
                ),
                lambda p: F.element_at(F.col("__toks"), p),
            )
        )
    )
    return (
        base.join(removed, id_col, "left")
        .withColumn("__kept", kept_arr)
        .select(
            id_col,
            "n_tokens_before",
            F.size("__kept").cast("bigint").alias("n_tokens_after"),
            F.array_join(F.col("__kept"), " ").alias("text_dedup"),
        )
    )
