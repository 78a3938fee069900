"""Property tests (SURVEY §5.2.4) — hypothesis-generated inputs over the
scoring/search/dedup invariants.  Example counts are kept small: every
example is a real (local) Spark job.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from merkonvectordb_spark.functions.vector import cosine_similarity, vector_literal
from merkonvectordb_spark.operators.search import knn

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_component = st.floats(
    min_value=-10.0, max_value=10.0, allow_nan=False, allow_subnormal=False, width=32
)


def _vec_pair(dim_min=3, dim_max=6):
    return st.integers(dim_min, dim_max).flatmap(
        lambda n: st.tuples(
            st.lists(_component, min_size=n, max_size=n),
            st.lists(_component, min_size=n, max_size=n),
        )
    )


@settings(**_SETTINGS)
@given(pair=_vec_pair())
def test_cosine_bounded_or_null(spark, pair):
    a, b = pair
    row = (
        spark.range(1)
        .select(
            cosine_similarity(vector_literal(a), vector_literal(b)).alias("c")
        )
        .first()
    )
    if row.c is not None:
        assert -1.000001 <= row.c <= 1.000001


@settings(**_SETTINGS)
@given(pair=_vec_pair())
def test_cosine_self_is_one_and_symmetric(spark, pair):
    a, _ = pair
    rows = (
        spark.range(1)
        .select(
            cosine_similarity(vector_literal(a), vector_literal(a)).alias("aa"),
            cosine_similarity(vector_literal(a), vector_literal(pair[1])).alias("ab"),
            cosine_similarity(vector_literal(pair[1]), vector_literal(a)).alias("ba"),
        )
        .first()
    )
    if any(x != 0.0 for x in a):
        assert abs(rows.aa - 1.0) < 1e-9
    else:
        assert rows.aa is None  # zero norm is unscorable
    assert (rows.ab is None) == (rows.ba is None)
    if rows.ab is not None:
        assert abs(rows.ab - rows.ba) < 1e-12


@settings(**_SETTINGS)
@given(
    corpus=st.lists(
        st.lists(_component, min_size=4, max_size=4), min_size=1, max_size=8
    ),
    k=st.integers(-1, 10),
    threshold=st.floats(-1.0, 1.0, allow_nan=False),
    qvec=st.lists(_component, min_size=4, max_size=4),
)
def test_topk_subset_of_filtered(spark, corpus, k, threshold, qvec):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(corpus)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    top = knn(df, qvec, k=k, min_score=threshold, tie_break="vec_id",
              with_embeddings=True).collect()
    scored = df.select(
        "vec_id",
        cosine_similarity(F.col("embedding"), vector_literal(qvec)).alias("c"),
    ).collect()
    eligible = {
        r.vec_id for r in scored if r.c is not None and r.c >= threshold
    }
    got = {r.vec_id for r in top}
    assert got <= eligible
    assert len(top) == min(max(k, 0), len(eligible))


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=1, max_size=12
    ),
    seed=st.integers(0, 2**16),
)
def test_simhash_is_order_invariant(spark, words, seed):
    # the fingerprint sums ±1 over the token MULTISET — permuting the
    # document must not change it
    from merkonvectordb_spark.operators.dedup import simhash_fingerprint

    shuffled = list(words)
    random.Random(seed).shuffle(shuffled)
    row = (
        spark.range(1)
        .select(
            simhash_fingerprint(F.lit(" ".join(words))).alias("a"),
            simhash_fingerprint(F.lit(" ".join(shuffled))).alias("b"),
        )
        .first()
    )
    assert row.a == row.b


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=20), min_size=1, max_size=6
    )
)
def test_exact_dedup_partitions_corpus(spark, texts):
    # groups partition the corpus: sizes sum to N; survivors are min ids
    from merkonvectordb_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    groups = exact_dedup(df, "text", "doc_id").collect()
    assert sum(g.group_sz for g in groups) == len(texts)
    ids = [g.survivor_id for g in groups]
    assert len(ids) == len(set(ids))


@settings(**_SETTINGS)
@given(
    n=st.integers(1, 60),
    tiles=st.integers(1, 12),
    seed=st.integers(0, 10_000),
)
def test_global_ntile_equals_builtin(spark, n, tiles, seed):
    """global_ntile ≡ NTILE for any size/tile count, including ties and
    n < tiles (distributed rank arithmetic matches the windowed spec)."""
    from pyspark.sql import Window

    from merkonvectordb_spark.operators.stats import global_ntile

    rng = random.Random(seed)
    rows = [(i, float(rng.randint(0, 5))) for i in range(n)]  # heavy ties
    df = spark.createDataFrame(rows, "id LONG, v DOUBLE")
    got = {
        r.id: r.tile
        for r in global_ntile(
            df, [("v", "desc"), ("id", "asc")], tiles, num_partitions=4
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    want = {
        r.id: r.nt
        for r in df.select("id", F.ntile(tiles).over(w).alias("nt")).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    n_keys=st.integers(1, 6),
    n_changes=st.integers(1, 30),
    seed=st.integers(0, 10_000),
)
def test_apply_changes_equals_sequential_replay(spark, n_keys, n_changes, seed):
    """apply_changes ≡ replaying the log in sequence order into a dict."""
    from merkonvectordb_spark.operators.cdc import apply_changes

    rng = random.Random(seed)
    log = [
        (rng.randrange(n_keys), seq, rng.choice(["U", "U", "D"]), f"v{seq}")
        for seq in range(n_changes)
    ]
    rng.shuffle(log)  # arrival order ≠ sequence order
    df = spark.createDataFrame(log, "k LONG, seq LONG, op STRING, v STRING")
    got = {
        r.k: (r.seq, r.v)
        for r in apply_changes(df, ["k"], "seq").collect()
    }
    state: dict[int, tuple[int, str]] = {}
    for k, seq, op, v in sorted(log, key=lambda r: r[1]):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (seq, v)
    assert got == state


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True),
    extra=st.lists(st.integers(10_001, 20_000), max_size=60, unique=True),
)
def test_bloom_never_drops_a_true_member(spark, keys, extra):
    """Bloom pre-filter property: every build-side key survives the
    membership test (no false negatives), whatever the key set."""
    from merkonvectordb_spark.operators.bloom import (
        bloom_filter_rows,
        build_bloom,
    )

    dim = spark.createDataFrame([(k,) for k in keys], "dkey long")
    fact = spark.createDataFrame(
        [(k,) for k in keys + extra], "key long"
    )
    words = build_bloom(dim, "dkey")
    passed = {
        r.key for r in bloom_filter_rows(fact, "key", words).collect()
    }
    assert set(keys) <= passed


@settings(**_SETTINGS)
@given(
    vals=st.lists(st.integers(0, 50), min_size=1, max_size=200),
)
def test_cms_estimate_upper_bounds_every_count(spark, vals):
    """Count-min property: est(v) ≥ true count(v) for every value."""
    from collections import Counter

    from merkonvectordb_spark.operators.sketch import cms_build, cms_estimate

    df = spark.createDataFrame([(v,) for v in vals], "k long")
    sketch = cms_build(df, "k")
    probes = df.select("k").distinct()
    est = {
        r.probe: r.est_count
        for r in cms_estimate(sketch, probes, "k").collect()
    }
    truth = Counter(vals)
    for v, n in truth.items():
        assert est[v] >= n


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=12).map(
            lambda cs: " ".join("w" + c for c in cs)
        ),
        min_size=2,
        max_size=25,
    ),
    caps=st.tuples(st.integers(1, 3), st.integers(4, 30)),
)
def test_band_cap_monotone_subset(spark, texts, caps):
    """Band-frequency-cap properties over random small-vocab corpora
    (the degenerate-vocabulary shape the lever exists for):
    candidates(cap_lo) ⊆ candidates(cap_hi) ⊆ exact candidates, and a
    cap ≥ corpus size is exactly the identity."""
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        shingle_analysis,
    )

    cap_lo, cap_hi = caps
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    sets = shingle_analysis(df, "doc_id", "text").localCheckpoint(eager=True)
    exact = {(r.a, r.b) for r in candidate_pairs_from_sets(sets).collect()}
    lo = {
        (r.a, r.b)
        for r in candidate_pairs_from_sets(sets, cap_lo).collect()
    }
    hi = {
        (r.a, r.b)
        for r in candidate_pairs_from_sets(sets, cap_hi).collect()
    }
    assert lo <= hi <= exact
    full = {
        (r.a, r.b)
        for r in candidate_pairs_from_sets(sets, len(texts)).collect()
    }
    assert full == exact
