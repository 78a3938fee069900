"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive value hash (columns
sorted by name, rows sorted by their canonical string form).

Usage:  python tools/oracle_check.py [sf_dir] [query_name ...]

Set ``ORACLE_BARE=1`` to run against a deliberately UN-tuned
SparkSession (default shuffle partitions, no pre-set timezone /
nanosAsLong / Arrow / broadcast confs) — a stand-in for the external
harness, which hands the queries ITS session, not ours.  Every query
must pass under both; runtime-critical confs belong in ``load_table``,
not session bootstrap.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# single source of truth shared with tests/test_registry.py — its
# fetch-path checks must hash exactly the bytes this gate hashes
from merkonvectordb_spark.canon import canon_cell  # noqa: E402


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    from merkonvectordb_spark.canon import canon_rows as _cr

    h, lines = _cr(cols, rows)
    return h, len(lines)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod

    if os.environ.get("ORACLE_BARE"):
        # harness stand-in: a stock session with none of our tuned confs
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("oracle_check_bare")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from merkonvectordb_spark import get_spark

        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        shash, sn = canon_rows(scols, srows)
        if name not in oracles:
            print(f"{name:32s} rows={sn:6d} (no oracle — rows-only check)")
            continue
        rel = con.sql(oracles[name])
        ocols = rel.columns
        orows = rel.fetchall()
        ohash, on = canon_rows(ocols, orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok = ok_cols and sn == on and shash == ohash
        status = "OK " if ok else "FAIL"
        print(f"{name:32s} {status} spark_rows={sn} duck_rows={on} cols_match={ok_cols}")
        if not ok:
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {sorted(scols)}\n    duck  cols: {sorted(ocols)}")
            else:
                sset = set("\x1f".join(map(canon_cell, r)) for r in srows)
                # align column order for diff display
                oorder = [ocols.index(c) for c in scols]
                oset = set(
                    "\x1f".join(canon_cell(r[i]) for i in oorder) for r in orows
                )
                for line in list(sset - oset)[:3]:
                    print("    spark-only:", line.replace("\x1f", " | ")[:200])
                for line in list(oset - sset)[:3]:
                    print("    duck-only: ", line.replace("\x1f", " | ")[:200])
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
