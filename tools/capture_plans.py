#!/usr/bin/env python
"""Capture ``.explain("formatted")`` for registered queries into
``plans/r{N}/<query>_<tag>.txt`` — the optimization round's before/after
plan evidence (the judge checks plan claims against these files).

Usage:
    python tools/capture_plans.py before <query...>      # default round 10
    SPARK_GRAFT_ROUND=10 python tools/capture_plans.py after dedup_near

Notes: building a query's frame may itself execute work (eager
localCheckpoints, streaming memory sinks) — that is the registered shape;
the captured text is the plan of the RETURNED frame, exactly what the
bench's noop write executes.  Queries are built against
``$SPARK_GRAFT_SF_DIR`` (default sf0.1, the bench scale).
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    if len(sys.argv) < 3:
        raise SystemExit("usage: capture_plans.py <tag> <query...>")
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = int(os.environ.get("SPARK_GRAFT_ROUND", "10"))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)

    import __spark_entry__ as entrymod
    from merkonvectordb_spark import free_persisted_blocks, get_spark
    from merkonvectordb_spark.plans.inspect import formatted_explain

    outdir = os.path.join(here, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    qmap = entrymod.queries()
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for name in names:
        spark.sparkContext.setJobDescription(f"capture_plans: {name}")
        df = qmap[name](spark, sf_dir)
        text = formatted_explain(df)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n")
            fh.write(text)
            if not text.endswith("\n"):
                fh.write("\n")
        print(f"  {name} -> {path}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        free_persisted_blocks(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
