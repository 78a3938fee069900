"""Plan lint: sweep EVERY registered query's physical plan for the
anti-patterns that kill a 100 TB run, regardless of whether the small-SF
result happens to be correct:

* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an inequality or
  keyless join that scans |left|×|right|;
* single-partition windows (``Window`` with an empty partition spec —
  Spark's "Moving all data to a single partition" case) — allowlisted
  where the input is provably tiny (dimension-sized aggregates, CRUD
  batch sequence numbers, k-row sketch outputs);
* row-at-a-time Python evaluation (``BatchEvalPython``) — only
  Arrow-batched (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas``) Python is acceptable.

``test_plan_shapes`` pins specific operators deeply; this sweep is the
breadth gate — a new query can't quietly introduce a cross product.

Usage: python tools/plan_lint.py [sf_dir] [query_name ...]
Exit 1 on any unallowlisted hit.  Queries that EXECUTE work at plan
time (streaming runs, persisted-index builds, driver-collected
scalars) still produce a final batch plan, which is what gets linted —
their internal stages are covered by the targeted tests.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, pattern) pairs that are DOCUMENTED-acceptable, with the reason
# recorded here so the lint report explains itself.
ALLOW: dict[tuple[str, str], str] = {
    ("supplier_rank_analytics", "single_partition_window"):
        "aggregate-first: the global ranking window sees one row per "
        "supplier (dimension-sized by construction)",
    ("upsert_roundtrip", "single_partition_window"):
        "insert-seq numbering over the CRUD batch (30 rows); bulk loads "
        "route through upsert(bulk_inserts=True)",
    ("get_batch_prefix", "single_partition_window"):
        "request-list ordering: the window input is the requested-keys "
        "list (driver-provided, metadata-sized)",
    ("get_batch_join", "single_partition_window"):
        "request-list ordering over the driver-provided key list",
    ("source_geomean", "single_partition_window"):
        "final ordering of 20 per-source aggregate rows",
    ("sketch_distinct", "single_partition_window"):
        "bottom-k selection over the k-row sketch (k=256)",
    ("sketch_distinct_grouped", "single_partition_window"):
        "per-group bottom-k over k rows per group",
    ("streaming_sketch_distinct", "single_partition_window"):
        "bottom-k over the k-long merged sketch",
    ("heavy_hitters", "single_partition_window"):
        "final ranking of the ≤2/θ verified candidates",
    ("word_freq_topk", "single_partition_window"):
        "global top-20 over per-word aggregate rows",
    ("doc_keywords_tfidf", "single_partition_window"):
        "IDF table ordering: one row per distinct term",
    ("hybrid_search_rrf", "single_partition_window"):
        "rank_by over a top-20 retrieval list (20 rows per side)",
    ("sampled_global_quantiles", "single_partition_window"):
        "rank window over the bottom-k hash sample — k=1024 literal, "
        "sketch-sized at any corpus size",
    ("quality_score_auc", "single_partition_window"):
        "cumulative window over the distinct-score frame — bounded by "
        "the micro-unit VALUE DOMAIN (<= 1e6+1 rows) at any corpus size",
    # BroadcastNestedLoopJoin is legitimate when the broadcast side is a
    # 1-row aggregate (scalar subquery) or a fixed-K set: the join is
    # |corpus|×K with K constant — linear, never quadratic.
    ("tpch_q11", "nested_loop"):
        "scalar subquery: global value total crossJoined back (1 row)",
    ("lang_temperature_mix", "nested_loop"):
        "scalar subquery: 1-row Σw weight total crossJoined back",
    ("tpch_q22", "nested_loop"):
        "scalar subquery: average account balance (1 row)",
    ("sketch_distinct", "nested_loop"):
        "exact-count scalar rides along with the k-row sketch estimate",
    ("streaming_sketch_distinct", "nested_loop"):
        "exact-count scalar crossJoined to the 1-row estimate",
    ("heavy_hitters", "nested_loop"):
        "total-count scalar for the frequency denominator (1 row)",
    ("text_search_bm25", "nested_loop"):
        "corpus-size scalar (n_docs) feeding the IDF (1 row)",
    ("hybrid_search_rrf", "nested_loop"):
        "n_docs scalar inside the BM25 half (1 row)",
    ("doc_keywords_tfidf", "nested_loop"):
        "n_docs scalar feeding the IDF (1 row)",
    ("get_batch_prefix", "nested_loop"):
        "first-missing-rank scalar for the prefix cut (1 row)",
    ("quality_quantile_filter", "nested_loop"):
        "p25 threshold scalar crossJoined back to the corpus (1 row)",
    ("knn_batch_sq8", "nested_loop"):
        "per-dimension min/max codebook stats (1 row) broadcast for "
        "quantize/dequantize",
    ("knn_batch_pq", "nested_loop"):
        "fixed query batch (Q=5) with its 128-entry ADC tables "
        "broadcast against the coded corpus — |corpus|×Q, Q constant",
    ("mmr_rerank", "nested_loop"):
        "fixed query batch (Q=5) broadcast for candidate scoring — "
        "|corpus|×Q, Q constant",
    ("hist_quantiles", "nested_loop"):
        "global min/max/count scalar (1 row) crossJoined for binning "
        "and interpolation",
    ("hist_quantiles", "single_partition_window"):
        "cumulative count over the ≤128-bin histogram — sketch-sized "
        "by construction, never data-sized",
    ("late_interaction_maxsim", "nested_loop"):
        "fixed query-term set (3 rows, with vectors) broadcast against "
        "the token-presence rows — |tokens|×|terms|, terms constant",
    ("events_value_trend", "nested_loop"):
        "corpus-start scalar (min epoch, 1 row) crossJoined for the "
        "centered regression sums",
    ("kmv_join_cardinality", "nested_loop"):
        "four one-row frames (sketch stats, membership count, exact "
        "counts) crossJoined into the single output row",
    ("domain_quality_prior", "nested_loop"):
        "corpus-totals scalar (1 row, re-aggregated from the "
        "checkpointed |domains|-row frame) crossJoined back for the "
        "shrinkage prior — the corpus is scanned once",
    ("token_zipf_fit", "single_partition_window"):
        "rank window over the top-1000 term frame (cut by "
        "TakeOrderedAndProject before the window — constant-sized)",
    ("quality_weighted_sample", "single_partition_window"):
        "rank window over the k-row winners frame (cut by "
        "TakeOrderedAndProject before the window — k=100)",
    ("embedding_pca_anisotropy", "nested_loop"):
        "d-row matrix frame × 1-row vector/count frames per power "
        "iteration — all sides ≤ 64 rows by construction",
    ("sliding_distinct_users", "nested_loop"):
        "30-row day frame broadcast against day-grain register/pair "
        "tables for the trailing-window range join — |days| constant, "
        "each row meets ≤7 windows",
    ("quality_quantile_normalize", "nested_loop"):
        "corpus-count scalar (1 row) crossJoined for the rank-rescale "
        "arithmetic (the quality_quantile_filter shape)",
    ("hll_distinct", "nested_loop"):
        "exact-count scalar (1 row) crossJoined to the 1-row HLL "
        "estimate, same shape as sketch_distinct",
    ("unigram_lm_score", "nested_loop"):
        "corpus token-total scalar (1 row) for the LM denominator; the "
        "vocabulary itself joins on token, never broadcasts",
    ("bigram_lm_score", "nested_loop"):
        "corpus token-total scalar (1 row) for the interpolation "
        "denominator; bigram/unigram tables join on their keys",
    ("router_knn_batch", "nested_loop"):
        "the routed arms reuse the standalone backends' plans verbatim "
        "— the per-round arm rotation can include sq8 (1-row codebook "
        "stats broadcast), allowlisted under its own name",
}

PATTERNS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "nested_loop": re.compile(r"BroadcastNestedLoopJoin"),
    "python_row_at_a_time": re.compile(r"BatchEvalPython"),
}


def single_partition_windows(plan: str) -> int:
    """Count Window operators whose partition spec is empty.

    Spark prints ``Window [exprs], [partitionExprs], [orderExprs]`` —
    when the partition list is empty the second bracket holds the ORDER
    BY (detected by ASC/DESC markers directly in it)."""
    n = 0
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        seg = m.group(1)
        if " ASC" in seg or " DESC" in seg:
            n += 1
    return n


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from merkonvectordb_spark import get_spark

    spark = get_spark("plan_lint")
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # lint must report, not crash
            print(f"{name:32s} PLAN-ERROR {type(e).__name__}: {e}")
            failures.append((name, "plan_error"))
            continue
        hits = []
        for key, rx in PATTERNS.items():
            if rx.search(plan):
                hits.append(key)
        if single_partition_windows(plan):
            hits.append("single_partition_window")
        bad = []
        for h in hits:
            reason = ALLOW.get((name, h))
            if reason is None:
                bad.append(h)
        status = "OK " if not bad else "FAIL"
        allowed = [h for h in hits if (name, h) in ALLOW]
        note = f" allowed={allowed}" if allowed else ""
        print(f"{name:32s} {status}{' ' + ','.join(bad) if bad else ''}{note}")
        failures.extend((name, h) for h in bad)
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all plans clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
