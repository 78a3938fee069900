"""Dedup operator tests (exact now; near-dup variants join as they land)."""

from __future__ import annotations

from pyspark.sql import functions as F

from merkonvectordb_spark.operators.dedup import exact_dedup, keep_survivors
from merkonvectordb_spark.plans import executed_plan


def _corpus(spark):
    rows = [
        (1, "The quick brown fox"),
        (2, "the  quick   BROWN fox "),  # dup of 1 after normalization
        (3, "a different document"),
        (4, "A DIFFERENT document"),  # dup of 3
        (5, "unique content here"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup_groups(spark):
    out = exact_dedup(_corpus(spark), "text", "doc_id").collect()
    by_survivor = {r.survivor_id: r.group_sz for r in out}
    assert by_survivor == {1: 2, 3: 2, 5: 1}


def test_keep_survivors(spark):
    kept = keep_survivors(_corpus(spark), "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 5]
    # survivor keeps its original (un-normalized) payload
    assert kept.where(F.col("doc_id") == 1).first().text == "The quick brown fox"


def test_exact_dedup_shuffle_is_aggregated(spark):
    # the plan must partial-aggregate before the exchange: one shuffled row
    # per distinct fingerprint, not per input row (100 TB gate)
    plan = executed_plan(exact_dedup(_corpus(spark), "text", "doc_id"))
    before_exchange = plan.split("Exchange")[-1]  # text BELOW the exchange
    assert "partial_min" in before_exchange or "partial" in before_exchange


# ---------------------------------------------------------------------------
# near-dup (MinHash → LSH → Jaccard → connected components)
# ---------------------------------------------------------------------------


def _near_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill in the afternoon sun"
    )
    rows = [
        (1, base),
        (2, base + " extra trailing words"),         # near-dup of 1
        (3, base.replace("lazy", "sleepy")),          # near-dup of 1
        (10, "completely different text about spark catalyst optimizer "
             "plans and shuffle exchanges in distributed execution engines"),
        (11, "short doc"),                             # < 3 tokens after split? no: 2 tokens
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_near_dedup_groups(spark):
    from merkonvectordb_spark.operators.dedup import near_dedup

    out = {r.doc_id: (r.group_id, r.group_sz) for r in
           near_dedup(_near_corpus(spark), "doc_id", "text", 0.5).collect()}
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    assert out[10] == (10, 1)
    assert out[11] == (11, 1)  # too short to shingle -> singleton


def test_near_dedup_exact_precollapse_is_equivalent_and_linear(spark):
    """Round 7 (SCALING.md): an identical mega-group (one doc duplicated
    g times — license boilerplate at corpus scale) makes the banding
    self-join quadratic, Σ|bucket|² = g²/2.  The exact pre-collapse
    (identical shingle sets → min-id representative before banding,
    star expansion after) must (a) produce bit-identical output to the
    uncollapsed pipeline, including chains that BRIDGE an exact group
    to outside near-dups, and (b) shrink the candidate-pair stage to
    the representative count."""
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        near_dedup,
        shingle_analysis,
    )

    base = ("the quick brown fox jumps over the lazy dog while spark "
            "shuffles partitions across the cluster nodes")
    rows = (
        [(i, base) for i in range(40)]                       # mega-group
        + [(100, base + " with a small trailing change")]    # bridges out
        + [(200, "entirely unrelated corpus text about columnar storage "
                 "formats and vectorized execution engines today")]
        + [(300, "tiny")]                                    # no shingles
    )
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fast = {r.doc_id: (r.group_id, r.group_sz)
            for r in near_dedup(df, "doc_id", "text", 0.5).collect()}
    slow = {r.doc_id: (r.group_id, r.group_sz)
            for r in near_dedup(
                df, "doc_id", "text", 0.5, exact_precollapse=False
            ).collect()}
    assert fast == slow
    assert fast[0] == (0, 41) and fast[100] == (0, 41)  # bridge joined
    assert fast[200] == (200, 1) and fast[300] == (300, 1)
    # the pair stage sees ONE representative for the 40 identical docs:
    # without collapse the mega-group alone contributes 40*39/2 pairs
    sets_df = shingle_analysis(df, "doc_id", "text")
    uncollapsed_pairs = candidate_pairs_from_sets(sets_df).count()
    reps = sets_df.select("__sh").distinct().count()
    assert uncollapsed_pairs >= 40 * 39 // 2
    assert reps == 3  # base, bridge, unrelated


def test_candidate_pairs_not_all_pairs(spark):
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        shingle_analysis,
    )

    df = candidate_pairs_from_sets(
        shingle_analysis(_near_corpus(spark), "doc_id", "text")
    )
    plan = executed_plan(df)
    # the bucket self-join must be an equi-join on (band_id, band_key),
    # never a cartesian/nested-loop product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pairs = {(r.a, r.b) for r in df.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs


def test_connected_components_chain(spark):
    from merkonvectordb_spark.operators.dedup import connected_components

    # a path graph 1-2-3-4 plus an isolated edge 7-8: min label must
    # propagate across the full path (multiple iterations)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8)], "a LONG, b LONG"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    # driver union-find path (small graph)
    got = {r.id: r.group_id for r in connected_components(edges).collect()}
    assert got == want
    # distributed min-label propagation path (forced)
    got_dist = {
        r.id: r.group_id
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_simhash_near_pairs(spark):
    from merkonvectordb_spark.operators.dedup import (
        simhash_fingerprint,
        simhash_near_pairs,
    )

    pairs = {(r.a, r.b): r.hamming for r in
             simhash_near_pairs(_near_corpus(spark), "doc_id", "text",
                                max_hamming=10).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs  # near-dups found
    assert all(h <= 10 for h in pairs.values())
    assert not any(a == 10 or b == 10 for a, b in pairs)  # unrelated doc excluded
    # fingerprint is deterministic
    fp = (_near_corpus(spark)
          .select(simhash_fingerprint(F.col("text")).alias("fp"))
          .collect())
    fp2 = (_near_corpus(spark)
           .select(simhash_fingerprint(F.col("text")).alias("fp"))
           .collect())
    assert [r.fp for r in fp] == [r.fp for r in fp2]


def test_simhash_arrow_path_matches_expression(spark, sf_dir):
    """Round 7: simhash_near_pairs swapped its fingerprint stage from
    the interpreted higher-order expression (CodegenFallback, ~2,700
    lambda evals per doc — 97.7 s at 50k docs in the scale probe) to an
    Arrow mapInPandas pass.  The two must be VALUE-identical on real
    fixture text and on whitespace/unicode edge cases, and no-token
    docs must be excluded (the expression path's token_count>0
    filter, now built into the rows path)."""
    from merkonvectordb_spark.functions.text import token_count
    from merkonvectordb_spark.operators.dedup import (
        simhash_fingerprint,
        simhash_fingerprint_rows,
    )
    from merkonvectordb_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    want = {
        r.doc_id: r.fp
        for r in docs.where(token_count(F.col("text")) > 0)
        .select("doc_id", simhash_fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    got = {
        r["__id"]: r["__fp"]
        for r in simhash_fingerprint_rows(docs, "doc_id", "text").collect()
    }
    assert got == want and len(got) > 0
    edge = spark.createDataFrame(
        [
            (1, "  tab\tsep\nlines\x0bvtab\fff\rcr  "),
            (2, "MiXeD CaSe ÜNICODE tökens"),
            (3, ""),          # no tokens -> excluded
            (4, None),        # NULL text  -> excluded
            (5, " \t\r\n "),  # whitespace only -> excluded
            (6, "repeated repeated repeated unique"),  # TF weighting
        ],
        "doc_id LONG, text STRING",
    )
    ewant = {
        r.doc_id: r.fp
        for r in edge.where(token_count(F.col("text")) > 0)
        .select("doc_id", simhash_fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    egot = {
        r["__id"]: r["__fp"]
        for r in simhash_fingerprint_rows(edge, "doc_id", "text").collect()
    }
    assert egot == ewant
    assert set(egot) == {1, 2, 6}


def test_shingle_analysis_matches_expression_chain(spark, sf_dir):
    """``shingle_analysis`` (the package's one fused Arrow pass) against
    the shingle → setkey → MinHash-signature chain written as JVM
    expressions, kept here as the reference.  Every column must be
    VALUE-identical to it — same shingle lists in first-occurrence
    order, same md5-over-sorted-md5s set key, same 16-arm prime-field
    signature — on real fixture text and on whitespace/unicode/edge
    docs, with empty shingle sets dropped."""
    from merkonvectordb_spark.functions.hashing import md5_hash60
    from merkonvectordb_spark.functions.text import word_shingles
    from merkonvectordb_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        SHINGLE_N,
        shingle_analysis,
    )
    from merkonvectordb_spark.schema import load_table

    def hash_fn(a, b):
        # closure, not lambda-with-defaults: PySpark reads the lambda's
        # arity to build the higher-order function
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P

    def sig_arms(bases):
        return F.array(
            *[
                F.array_min(F.transform(bases, hash_fn(a, b)))
                for a, b in zip(MINHASH_A, MINHASH_B)
            ]
        )

    def jvm(df):
        sh = F.array_distinct(word_shingles(F.col("text"), SHINGLE_N))
        # md5[:15] base hashes folded into the prime field, bound once
        # through a lambda variable for the 16 signature arms
        bases = F.transform(F.col("__sh"), lambda s: md5_hash60(s) % MINHASH_P)
        return {
            r["__id"]: (list(r["__sh"]), r["__setkey"], list(r["__sig"]))
            for r in df.select(F.col("doc_id").alias("__id"), sh.alias("__sh"))
            .where(F.size("__sh") > 0)
            .select(
                "__id",
                "__sh",
                F.md5(
                    F.concat_ws("", F.transform(F.array_sort("__sh"), F.md5))
                ).alias("__setkey"),
                F.element_at(F.transform(F.array(bases), sig_arms), 1).alias(
                    "__sig"
                ),
            )
            .collect()
        }

    def arrow(df):
        return {
            r["__id"]: (list(r["__sh"]), r["__setkey"], list(r["__sig"]))
            for r in shingle_analysis(df, "doc_id", "text").collect()
        }

    docs = load_table(spark, sf_dir, "documents").limit(200)
    want, got = jvm(docs), arrow(docs)
    assert got == want and len(got) > 0
    edge = spark.createDataFrame(
        [
            (1, "  tab\tsep\nlines\x0bvtab\fff\rcr two more words  "),
            (2, "MiXeD CaSe ÜNICODE tökens here and MORE of them"),
            (3, ""),              # no tokens -> dropped
            (4, None),            # NULL text -> dropped
            (5, " \t\r\n "),      # whitespace only -> dropped
            (6, "one two"),       # below the shingle window -> dropped
            (7, "a b c a b c a b c d"),  # duplicate shingles collapse
            # code points whose case mapping differs between the JVM's
            # Unicode tables and Python's str.lower()
            (8, "\uA7CB tall shingle with capital ramshorn"),
            (9, "garay \U00010D50 capital letter in these words"),
        ],
        "doc_id LONG, text STRING",
    )
    ewant, egot = jvm(edge), arrow(edge)
    assert egot == ewant
    assert set(egot) == {1, 2, 7, 8, 9}


# ---------------------------------------------------------------------------
# n-gram Jaccard prefix filtering
# ---------------------------------------------------------------------------


def test_ngram_jaccard_exact_vs_bruteforce(spark):
    """Prefix filtering is LOSSLESS: output must equal the brute-force
    all-pairs Jaccard join on a corpus small enough to enumerate."""
    from merkonvectordb_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " x"),                      # near-dup of 1
        (3, base.replace("jumps", "hops!!")),  # same-length edit of 1
        (4, "completely different text about spark physical plan shapes ok"),
        (5, "completely different text about spark physical plan shapes yes"),
        (6, "short"),                          # < n chars: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 15, 4, 5).collect()
    }

    # brute force in python (char 15-gram sets; same normalization)
    import re

    def gset(t):
        t = re.sub(r"\s+", " ", t.lower().strip())
        return {t[i:i + 15] for i in range(len(t) - 14)} if len(t) >= 15 else set()

    sets = {i: gset(t) for i, t in rows if gset(t)}
    expected = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            un = len(sets[a] | sets[b])
            if un and inter * 5 >= 4 * un:
                expected[(a, b)] = round(inter / un, 6)
    assert out == expected
    assert expected, "fixture must produce at least one qualifying pair"


def test_ngram_text_precollapse_is_equivalent(spark):
    """Round 7: text-identical docs collapse to a representative before
    gram generation (the identical-mega-group guard).  Output must equal
    the uncollapsed pipeline — cross pairs inherit the rep jaccard,
    within-group pairs emit 1.0, sub-window docs stay pair-less — and
    normalization-equal (whitespace/case) variants must collapse too."""
    from merkonvectordb_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = (
        [(i, base) for i in range(10)]              # identical group
        + [(50, "THE  quick   brown fox jumps over the lazy dog again "
                "and again")]                       # normalization-equal
        + [(100, base + " x")]                      # near-dup bridge
        + [(200, "completely different text about spark physical plans")]
        + [(300, "short")]                          # below gram window
    )
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fast = {(r.a, r.b): r.jaccard
            for r in ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    slow = {(r.a, r.b): r.jaccard
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", exact_precollapse=False
            ).collect()}
    assert fast == slow and len(fast) > 0
    group = list(range(10)) + [50]  # 50 normalizes to the same text
    for x in group:
        for y in group:
            if x < y:
                assert fast[(x, y)] == 1.0
    assert (0, 100) in fast and fast[(0, 100)] < 1.0  # bridge pair kept
    assert not any(300 in p or 200 in p for p in fast)


def test_ngram_precollapse_vertical_tab_is_not_whitespace(spark):
    """Round 8 (ADVICE r7): the gram generator's whitespace class is
    [ \\t\\n\\f\\r] — NO \\x0b.  The pre-collapse normalization once used
    the Java \\s class (WITH \\x0b), so (a) docs differing only by a
    vertical tab vs a space wrongly collapsed into a false
    jaccard=1.0 pair, and (b) a doc whose length clears the gram
    window only because \\x0b survives was dropped entirely by the
    length guard's left_semi join.  Both must match the uncollapsed
    pipeline bit-for-bit."""
    from merkonvectordb_spark.operators.dedup import ngram_jaccard_pairs

    words = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel")
    spaced = " ".join(words)
    # replace every separator with \x0b: under correct semantics the
    # vertical tabs are ORDINARY gram characters, so nearly every gram
    # differs and the true jaccard is far below the 0.8 threshold
    vtabbed = "\x0b".join(words)
    # clears the 15-char window ONLY with \x0b retained (6+9+3=18);
    # the buggy space-collapse normalized it to 10 chars and dropped it
    short_vt = "abcdef" + "\x0b" * 9 + "xyz"
    rows = [(1, spaced), (2, vtabbed), (3, short_vt), (4, short_vt)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fast = {(r.a, r.b): r.jaccard
            for r in ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    slow = {(r.a, r.b): r.jaccard
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", exact_precollapse=False
            ).collect()}
    assert fast == slow
    assert (1, 2) not in fast          # was a false 1.0 pair pre-fix
    assert fast[(3, 4)] == 1.0         # was dropped by the length guard


def test_ngram_prefix_filter_prunes(spark):
    """Prefix rows must be a small fraction of all gram rows — the bound
    that keeps the candidate join off the all-pairs cliff."""
    from pyspark.sql import functions as F

    from merkonvectordb_spark.operators.dedup import (
        NGRAM_N,
        NGRAM_T_DEN,
        NGRAM_T_NUM,
        char_ngram_key_rows,
    )

    rows = [(i, " ".join(f"tok{(i * 31 + j * 7) % 97}" for j in range(40)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    g = char_ngram_key_rows(df, "doc_id", "text", NGRAM_N)
    s = g.groupBy("__id").count().withColumnRenamed("count", "s")
    pref_rows = s.select(
        (F.col("s") - F.expr(f"({NGRAM_T_NUM}*s + {NGRAM_T_DEN-1}) div {NGRAM_T_DEN}") + 1).alias("p")
    ).agg(F.sum("p")).first()[0]
    total_rows = g.count()
    assert pref_rows < total_rows / 3  # prefixes are a small fraction of grams


def test_fuzzy_self_join_lossless_and_duplicate_free(spark):
    from pyspark.sql import functions as F

    from merkonvectordb_spark.operators.dedup import fuzzy_self_join

    words = [
        "cat", "cart", "card", "care", "car", "dog", "dig", "dug",
        "spark", "shark", "stark", "a", "ab", "abc",
    ]
    df = spark.createDataFrame([(w,) for w in words], "term STRING")
    for d in (0, 1, 2):
        got = sorted(
            (r.s1, r.s2, r.dist)
            for r in fuzzy_self_join(df, "term", max_dist=d).collect()
        )
        # brute force: the cross product the blocking must reproduce
        a, b = df.alias("a"), df.alias("b")
        brute = sorted(
            (r.s1, r.s2, r.dist)
            for r in a.join(b, F.col("a.term") < F.col("b.term"))
            .select(
                F.col("a.term").alias("s1"),
                F.col("b.term").alias("s2"),
                F.levenshtein("a.term", "b.term").cast("bigint").alias("dist"),
            )
            .where(F.col("dist") <= d)
            .collect()
        )
        assert got == brute, f"divergence at max_dist={d}"
        # a pair must meet in exactly one block: no duplicates
        assert len(got) == len({(s1, s2) for s1, s2, _ in got})


def test_decontaminate_flags_planted_overlap(spark):
    from merkonvectordb_spark.operators.dedup import decontaminate

    ev = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated benchmark prompt text here"),
        ],
        "doc_id LONG, text STRING",
    )
    tr = spark.createDataFrame(
        [
            # contains eval doc 1 verbatim plus a prefix → containment 1.0
            (100, "prefix words then the quick brown fox jumps over the lazy dog"),
            # shares exactly one 3-gram with doc 1 → below min_hits=2
            (101, "the quick brown bear sleeps all day long"),
            (102, "nothing in common with either document at all"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        (r.train_id, r.eval_id): (r.shared_ngrams, r.containment)
        for r in decontaminate(tr, ev, min_hits=2).collect()
    }
    assert set(got) == {(100, 1)}
    shared, containment = got[(100, 1)]
    # eval doc 1 has 7 distinct 3-grams, all present in train doc 100
    assert shared == 7 and containment == 1.0


def test_minhash_store_incremental_probe(spark, tmp_path):
    """Persisted-store probe ≡ from-scratch cross screening, appends
    grow the store, and a version pin probes the pre-append snapshot."""
    from merkonvectordb_spark.operators.fingerprint_store import (
        append_minhash_store,
        build_minhash_store,
        probe_minhash_store,
    )

    base = "many common words shared across documents for shingling"
    hist1 = spark.createDataFrame(
        [(1, f"{base} alpha beta gamma"), (2, "totally unrelated text body")],
        "doc_id LONG, text STRING",
    )
    hist2 = spark.createDataFrame(
        [(3, f"{base} delta epsilon zeta")], "doc_id LONG, text STRING"
    )
    new = spark.createDataFrame(
        [(100, f"{base} alpha beta gamma extra"),
         (101, f"{base} delta epsilon zeta extra")],
        "doc_id LONG, text STRING",
    )
    store = build_minhash_store(spark, hist1, str(tmp_path / "fp"))
    append_minhash_store(store, hist2)
    hits = {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(store, new, threshold=0.5).collect()
    }
    assert (100, 1) in hits and (101, 3) in hits
    assert all(h != 2 for _, h in hits)
    # pre-append snapshot: doc 3 invisible at version 1
    v1 = {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(
            store, new, threshold=0.5, version=1
        ).collect()
    }
    assert (100, 1) in v1 and all(h != 3 for _, h in v1)


def test_minhash_store_build_jobs_keep_the_callers_job_group(spark, tmp_path):
    """build_minhash_store writes its two tables from pool threads; the
    jobs started there must carry the caller's job group, not run
    ungrouped."""
    from merkonvectordb_spark.operators.fingerprint_store import (
        build_minhash_store,
    )

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(1, "many common words shared across documents"), (2, "other text")],
        "doc_id LONG, text STRING",
    )
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("minhash-build", "job-group inheritance check")
    try:
        build_minhash_store(spark, docs, str(tmp_path / "fp"))
        grouped = set(tracker.getJobIdsForGroup("minhash-build"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert grouped
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_streaming_ingest_appends_fingerprint_store(spark, tmp_path):
    """The daily-ingest pipeline as a STREAM: each micro-batch is probed
    against the store (dups vs all history so far), then appended.  With
    deterministic per-file batches, batch 2's docs must match their
    batch-1 near-dups, and the final store equals a batch build."""
    import os

    from pyspark.sql import functions as F

    from merkonvectordb_spark.operators.fingerprint_store import (
        MinHashStore,
        append_minhash_store,
        build_minhash_store,
        probe_minhash_store,
    )

    base = "shared shingle text body with many common words in sequence"
    b1 = spark.createDataFrame(
        [(1, f"{base} one"), (2, "completely different content here")],
        "doc_id LONG, text STRING",
    )
    b2 = spark.createDataFrame(
        [(10, f"{base} two")], "doc_id LONG, text STRING"
    )
    src = tmp_path / "src"
    src.mkdir()
    b1.coalesce(1).write.parquet(str(src / "f=1"))
    b2.coalesce(1).write.parquet(str(src / "f=2"))

    store = MinHashStore(spark, str(tmp_path / "fp"))
    seen_dups: list[tuple[int, int]] = []

    def _ingest(batch_df, batch_id):
        batch = batch_df.select("doc_id", "text")
        if store.bands.current_version() > 0:
            hits = probe_minhash_store(store, batch, threshold=0.5)
            seen_dups.extend(
                (r.new_id, r.hist_id) for r in hits.collect()
            )
            append_minhash_store(store, batch)
        else:
            build_minhash_store(spark, batch, store.root)

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, f INT")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select("doc_id", "text")
    )
    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert (10, 1) in seen_dups and all(h != 2 for _, h in seen_dups)
    # store now equals a from-scratch batch build over b1 ∪ b2
    ids = sorted(
        r["__id"] for r in store.shingles.read().select("__id").collect()
    )
    assert ids == [1, 2, 10]


def test_fingerprint_append_with_batch_id_is_idempotent(spark, tmp_path):
    """Review finding: a retried batch append must not double-insert the
    shingles — with a batch_id both tables ride the exactly-once
    watermark and the retry converges."""
    from merkonvectordb_spark.operators.fingerprint_store import (
        MinHashStore,
        append_minhash_store,
        build_minhash_store,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "eta theta iota kappa lambda mu")],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(3, "nu xi omicron pi rho sigma")], "doc_id LONG, text STRING"
    )
    store = build_minhash_store(spark, docs, str(tmp_path / "fp"))
    append_minhash_store(store, batch, batch_id=0)
    append_minhash_store(store, batch, batch_id=0)  # retry: no-op
    n = store.shingles.read().count()
    assert n == 3  # 2 history + 1 batch, not 4


def test_cross_source_overlap_mirror_forensics(spark, sf_dir):
    """Every mirror source must pair with exactly its origin, sharing
    ALL of its distinct fingerprints (the mirror is a strict subset);
    no mirror-to-mirror or unrelated cross-source pair may appear."""
    import __spark_entry__ as entry

    rows = entry.queries()["cross_source_overlap"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        a, b = r["source_a"], r["source_b"]
        # only origin↔mirror pairs exist in the seeded corpus (the pair
        # is ordered lexicographically, so the mirror may be either side)
        if a == f"mirror:{b}":
            mirror_n = r["n_fps_a"]
            origin_n = r["n_fps_b"]
        elif b == f"mirror:{a}":
            mirror_n = r["n_fps_b"]
            origin_n = r["n_fps_a"]
        else:
            raise AssertionError((a, b))
        # the mirror's whole content is shared, and no more
        assert r["n_shared"] == mirror_n
        assert origin_n >= r["n_shared"]


def test_minhash_calibration_estimator_quality(spark, sf_dir):
    """On the seeded corpus every (doc, doc+20000) mutant pair that LSH
    surfaces must carry a high exact Jaccard, the estimator must sit in
    [0, 1], and abs_err must equal |est - exact| (within output
    rounding)."""
    import __spark_entry__ as entry

    rows = entry.queries()["minhash_calibration"](spark, sf_dir).collect()
    assert rows
    mutant_pairs = [r for r in rows if r["b"] == r["a"] + 20000]
    assert mutant_pairs, "no seeded mutant pair surfaced by LSH"
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert abs(r["abs_err"] - abs(r["est_jaccard"] - r["exact_jaccard"])) < 2e-6
    for r in mutant_pairs:
        assert r["exact_jaccard"] > 0.6, r


def test_split_leakage_quarantine_never_pulls_train(spark):
    """The repair rule (train > val > test) may only quarantine eval
    docs; total quarantined edge count must equal the audit's leaked
    pair count."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    q = entry.queries()["split_leakage_quarantine"](spark, sf).collect()
    assert all(r.split in ("val", "test") for r in q), q
    assert all(r.n_leak_edges >= 1 for r in q)
    audit = entry.queries()["split_leakage_audit"](spark, sf).collect()
    leaked_pairs = sum(r.n_pairs for r in audit if r.leaked)
    assert sum(r.n_leak_edges for r in q) == leaked_pairs


def test_leakage_quarantine_histogram_matches_pair_form(spark):
    """Round 9: the quarantine count is computed from per-group split
    histograms + rep edges (never a materialized pair list).  On a
    corpus with an identical mega-group straddling all three splits,
    near-dup mutant pairs, and uniques, its output must equal the
    naive pair-materializing form row for row."""
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        jaccard_edges_from_sets,
        leakage_quarantine,
        shingle_analysis,
    )
    from merkonvectordb_spark.operators.pipeline import hash_split

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [(i, base) for i in range(40)]  # identical mega-group
    for i in range(50, 60):  # near-dup mutant pairs (J ≥ 0.6, not 1.0)
        doc = f"{base} extra{i} filler{i}"
        rows.append((i, doc))
        rows.append((i + 100, doc + " tail"))
    for i in range(300, 320):  # uniques
        rows.append((i, " ".join(f"u{i}w{j}" for j in range(25))))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    w = {"train": 90, "val": 5, "test": 5}

    got = {
        (r.doc_id, r.split): r.n_leak_edges
        for r in leakage_quarantine(df, "doc_id", "text", w, 0.6).collect()
    }

    # naive reference: materialize candidate pairs, verify, label, count
    sets = shingle_analysis(df, "doc_id", "text").localCheckpoint(eager=True)
    edges = jaccard_edges_from_sets(
        sets, candidate_pairs_from_sets(sets), 0.6
    )
    lab = (
        hash_split(
            hash_split(edges.withColumnRenamed("a", "doc_id"), "doc_id", w)
            .withColumnRenamed("split", "split_a")
            .withColumnRenamed("doc_id", "a")
            .withColumnRenamed("b", "doc_id"),
            "doc_id",
            w,
        )
        .withColumnRenamed("split", "split_b")
        .withColumnRenamed("doc_id", "b")
    )

    def rank(c):
        return (
            F.when(F.col(c) == "train", 0)
            .when(F.col(c) == "val", 1)
            .otherwise(2)
        )

    worse_is_a = rank("split_a") > rank("split_b")
    want = {
        (r.doc_id, r.split): r.n_leak_edges
        for r in lab.where(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(worse_is_a, F.col("a")).otherwise(F.col("b")).alias(
                "doc_id"
            ),
            F.when(worse_is_a, F.col("split_a"))
            .otherwise(F.col("split_b"))
            .alias("split"),
        )
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).alias("n_leak_edges"))
        .collect()
    }
    assert want, "fixture produced no leaks — test is vacuous"
    assert got == want

    # the audit's histogram products must equal the pair-count groupBy
    # on the same corpus (including the diagonal C(h,2) terms)
    from merkonvectordb_spark.operators.dedup import leakage_audit

    got_audit = {
        (r.split_lo, r.split_hi): (r.n_pairs, r.leaked)
        for r in leakage_audit(df, "doc_id", "text", w, 0.6).collect()
    }
    want_audit = {
        (r.split_lo, r.split_hi): (r.n_pairs, r.split_lo != r.split_hi)
        for r in lab.select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .collect()
    }
    assert got_audit == want_audit
    # quarantined edge totals must still reconcile with the audit
    assert sum(n for (lo, hi), (n, lk) in want_audit.items() if lk) == sum(
        got.values()
    )


def test_pair_explosion_guard_trips_on_mega_group(spark):
    """VERDICT r7 #2: pair-semantics operators must fail LOUDLY, not
    OOM, when the true answer itself is quadratic.  A 40-doc identical
    group owes 40*39/2 = 780 pairs; with max_pairs below that both
    operators must raise PairExplosionError BEFORE expanding, and with
    a generous bound (or the default None) the output is unchanged."""
    import pytest as _pytest

    from merkonvectordb_spark.operators.dedup import (
        PairExplosionError,
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    boiler = "the same boilerplate paragraph repeated verbatim everywhere"
    rows = [(i, boiler) for i in range(40)] + [
        (100, "a genuinely unique document about spark partitioning"),
        (101, "another unique document about adaptive query execution"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    for op in (ngram_jaccard_pairs, simhash_near_pairs):
        with _pytest.raises(PairExplosionError, match="max_pairs=100"):
            op(df, "doc_id", "text", max_pairs=100)
        n_default = op(df, "doc_id", "text").count()
        n_bounded = op(df, "doc_id", "text", max_pairs=10_000).count()
        assert n_default == n_bounded == 780


def test_band_freq_cap_semantics(spark):
    """Round 10 (VERDICT r9 #2): the LSH hot-bucket density lever.
    Pins the keep-rule — capped candidates are a subset of the exact
    ones, restricted per bucket to the cap LOWEST ids — and the
    cap-immunity of exact-duplicate groups (they never pass through
    banding in the collapse-first pipelines)."""
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        leakage_audit,
        near_dedup,
        shingle_analysis,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [(i, base) for i in range(40)]  # identical mega-group
    for i in range(50, 60):  # distinct near-dup sets sharing vocabulary
        rows.append((i, f"{base} extra{i} filler{i}"))
        rows.append((i + 100, f"{base} extra{i} filler{i} tail"))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    sets = shingle_analysis(df, "doc_id", "text").localCheckpoint(eager=True)

    exact = {(r.a, r.b) for r in candidate_pairs_from_sets(sets).collect()}
    capped = {
        (r.a, r.b)
        for r in candidate_pairs_from_sets(sets, band_freq_cap=3).collect()
    }
    assert capped <= exact
    assert capped, "cap=3 dropped every candidate — fixture too hot"
    # a cap at least as large as the doc count is a no-op
    assert {
        (r.a, r.b)
        for r in candidate_pairs_from_sets(
            sets, band_freq_cap=len(rows)
        ).collect()
    } == exact
    # cap=1 leaves at most one member per bucket: zero banded pairs
    assert candidate_pairs_from_sets(sets, band_freq_cap=1).count() == 0

    import pytest

    with pytest.raises(ValueError):
        candidate_pairs_from_sets(sets, band_freq_cap=0)

    # exact-duplicate pairs are cap-immune: with cap=1 (no banded rep
    # pairs at all) the audit still reports the mega-group's and the
    # identical-set pairs' within-group combinations, and near_dedup
    # still clusters every identical group on its min id
    w = {"train": 90, "val": 5, "test": 5}
    capped_audit = {
        (r.split_lo, r.split_hi): r.n_pairs
        for r in leakage_audit(
            df, "doc_id", "text", w, 0.6, band_freq_cap=1
        ).collect()
    }
    assert sum(capped_audit.values()) >= 40 * 39 // 2
    nd = {
        r.doc_id: (r.group_id, r.group_sz)
        for r in near_dedup(
            df, "doc_id", "text", 0.6, band_freq_cap=1
        ).collect()
    }
    assert nd[39] == (0, 40)  # mega-group intact without any banded pair
    for i in range(50, 60):
        assert nd[i] == (i, 1)  # distinct near-dups lost at cap=1 —
        assert nd[i + 100][1] == 1  # the documented recall trade


def test_probe_band_freq_cap_semantics(spark, tmp_path):
    """Round 10 follow-on: the probe-side face of the hot-bucket lever
    (``probe_minhash_store(band_freq_cap=...)``).  Pins: capped hits are
    a subset of exact hits; a cap at least as large as the history is a
    no-op; against an exact-duplicate (maximally hot) history group,
    cap=1 keeps exactly the LOWEST-id historical partner — deterministic
    and stable across appends; cap=0 raises."""
    import pytest

    from merkonvectordb_spark.operators.fingerprint_store import (
        append_minhash_store,
        build_minhash_store,
        probe_minhash_store,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    # hot history: ids 10..49 all identical (every band bucket holds all
    # 40), plus one unrelated doc
    hist = spark.createDataFrame(
        [(i, base) for i in range(10, 50)]
        + [(9, "totally unrelated text body without overlap")],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [(1000, f"{base} extra tail")], "doc_id LONG, text STRING"
    )
    store = build_minhash_store(spark, hist, str(tmp_path / "fp"))

    exact = {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(store, new, threshold=0.5).collect()
    }
    assert exact == {(1000, i) for i in range(10, 50)}
    # no-op cap
    assert {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(
            store, new, threshold=0.5, band_freq_cap=41
        ).collect()
    } == exact
    # cap=1: every bucket keeps only hist id 10 — one deterministic hit
    capped = {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(
            store, new, threshold=0.5, band_freq_cap=1
        ).collect()
    }
    assert capped == {(1000, 10)}
    # the keep-rule is append-stable: appending HIGHER ids to the hot
    # group cannot change which partner the capped probe returns
    append_minhash_store(
        store,
        spark.createDataFrame([(60, base)], "doc_id LONG, text STRING"),
    )
    assert {
        (r.new_id, r.hist_id)
        for r in probe_minhash_store(
            store, new, threshold=0.5, band_freq_cap=1
        ).collect()
    } == {(1000, 10)}
    with pytest.raises(ValueError):
        probe_minhash_store(store, new, band_freq_cap=0)
