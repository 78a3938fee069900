#!/usr/bin/env python
"""Measure the band-frequency cap's recall/cost trade (VERDICT r9 #2).

For each (fixture dir, cap) cell: the banded candidate count at the
representative level, the verified rep-edge count (exact Jaccard >= the
threshold), and edge recall vs the uncapped run on the same fixture.
Exact-duplicate pairs are cap-immune by construction (collapse-first),
so rep-edge recall IS the only recall dimension the cap has.

Usage:
  python tools/band_cap_recall.py [dir:sf ...] [--caps 4,8,16]
Defaults: the driver sf0.01/sf0.1 fixtures, caps 2,4,8.
Writes a markdown table to stdout (rows also appended to PROBES.jsonl
is NOT done here — this measures answers, not walls).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    # accept both `--caps=4,8` and `--caps 4,8` (the usage line's form)
    argv = sys.argv[1:]
    caps = [2, 4, 8]
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--caps"):
            if "=" in a:
                spec = a.split("=", 1)[1]
            else:
                i += 1
                if i >= len(argv):
                    print("--caps needs a value, e.g. --caps 4,8", file=sys.stderr)
                    return 2
                spec = argv[i]
            caps = [int(x) for x in spec.split(",")]
        elif ":" not in a:
            print(f"fixture arg must be dir:sf, got {a!r}", file=sys.stderr)
            return 2
        else:
            args.append(a)
        i += 1
    dirs = (
        [(p.rsplit(":", 1)[0], p.rsplit(":", 1)[1]) for p in args]
        if args
        else [
            ("/root/testdata/sf0.01", "0.01"),
            ("/root/testdata/sf0.1", "0.1"),
        ]
    )

    from merkonvectordb_spark import free_persisted_blocks, get_spark
    from merkonvectordb_spark.operators.dedup import (
        candidate_pairs_from_sets,
        collapse_identical_sets,
        jaccard_edges_from_sets,
        shingle_analysis,
    )
    from merkonvectordb_spark.queries_dedup import near_corpus

    spark = get_spark("band_cap_recall", shuffle_partitions=32)
    print("| fixture | cap | candidates | rep edges | edge recall |")
    print("|---|---|---|---|---|")
    for d, sf in dirs:
        sets_all = shingle_analysis(near_corpus(spark, d), "doc_id", "text")
        # collapse returns eager checkpoints — no extra checkpoint needed
        _membership, rep_sets = collapse_identical_sets(sets_all)
        base_edges = None
        for cap in [None] + caps:
            pairs = candidate_pairs_from_sets(rep_sets, cap)
            n_cand = pairs.count()
            n_edge = jaccard_edges_from_sets(rep_sets, pairs, 0.6).count()
            if cap is None:
                base_edges = n_edge
            rec = (n_edge / base_edges) if base_edges else 1.0
            print(
                f"| {d} (sf{sf}) | {cap if cap else 'exact'} | "
                f"{n_cand} | {n_edge} | {rec:.3f} |"
            )
            sys.stdout.flush()
        spark.catalog.clearCache()
        free_persisted_blocks(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
