#!/usr/bin/env python
"""Split each registered query's wall time into build / plan / execute.

Guide §5 ("The driver should do almost no data work") and §7.3: with 186
queries and a ~0.6 s median, per-query driver-side cost (Python build of
the DataFrame + Catalyst analysis/optimization/physical planning) can be
a material slice of the sweep that no executor-side optimization touches.
This tool measures that slice per query:

    build  = fn(spark, sf_dir) returning a DataFrame (Python work +
             analysis; for store-building queries this includes their
             real data jobs, so interpret those rows separately)
    plan   = queryExecution().executedPlan() forced (optimizer + physical
             planning, pre-AQE)
    exec   = noop write of the SAME DataFrame object (execution + AQE)

Second-run numbers (warm) per query, matching bench.py's min-of-2 story.
Usage: python tools/driver_overhead.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = sys.argv[1:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    import __spark_entry__ as entrymod
    from merkonvectordb_spark import free_persisted_blocks, get_spark

    spark = get_spark("driver_overhead")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    rows = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        rec = {"q": name}
        try:
            for attempt in ("cold", "warm"):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                rec[f"{attempt}_build"] = round(t1 - t0, 4)
                rec[f"{attempt}_plan"] = round(t2 - t1, 4)
                rec[f"{attempt}_exec"] = round(t3 - t2, 4)
                spark.catalog.clearCache()
                free_persisted_blocks(spark)
        except Exception as e:  # noqa: BLE001 — keep sweeping
            rec["err"] = repr(e)[:200]
        rows.append(rec)
        print(
            f"  {name}: build {rec.get('warm_build', -1):.3f} "
            f"plan {rec.get('warm_plan', -1):.3f} "
            f"exec {rec.get('warm_exec', -1):.3f}",
            file=sys.stderr,
        )

    tot = {
        k: round(sum(r.get(k, 0.0) for r in rows), 2)
        for k in (
            "cold_build",
            "cold_plan",
            "cold_exec",
            "warm_build",
            "warm_plan",
            "warm_exec",
        )
    }
    print(json.dumps({"totals": tot, "n": len(rows), "rows": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
