"""Registry invariants the external harness depends on."""

from __future__ import annotations

import __spark_entry__ as entry


def _repo_root():
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_first_50_follow_the_rotation_policy():
    """The external harness hash-checks only the first 50 registry
    entries per round.  Since round 7 that block is POLICY, not a hand
    list (VERDICT r6 next-round #1/#2): never-driver-checked and
    latest-red queries first, then least-recently-verified, ties by
    registration order.  Pin it end-to-end: recompute the rank map from
    the committed CORRECTNESS_r*.json artifacts (so a stale generated
    LAST_VERIFIED fails here, not in the driver) and assert the live
    ``queries()`` order starts with exactly the policy block."""
    from merkonvectordb_spark import registry
    from merkonvectordb_spark.verification import (
        BLOCK_SIZE,
        LAST_VERIFIED,
        build_priority_block,
        last_verified_from_artifacts,
    )

    from_artifacts = last_verified_from_artifacts(_repo_root())
    # the live order derives from the artifacts (current_rank_map), so
    # the committed literal may lag by newer rounds right after the
    # driver lands a CORRECTNESS file — that transient is fine; the
    # snapshot must still be FAITHFUL as of its own newest round
    # (anything else is a hand edit or parser drift)
    newest_committed = max(LAST_VERIFIED.values(), default=0)
    as_of_committed = last_verified_from_artifacts(
        _repo_root(), max_round=newest_committed
    )
    assert LAST_VERIFIED == as_of_committed, (
        "generated LAST_VERIFIED diverges from the artifacts as of its "
        "own newest round — run `python tools/build_verification_map.py`"
    )
    expected = build_priority_block(list(registry._QUERIES), from_artifacts)
    got = list(entry.queries())[:BLOCK_SIZE]
    assert got == expected, (
        f"first-{BLOCK_SIZE} block diverges from the rotation policy:\n"
        f"  expected[:5]={expected[:5]}\n  got[:5]={got[:5]}"
    )
    # the policy's load-bearing property: nothing unverified can hide
    # outside the block
    unverified = [n for n in registry._QUERIES if from_artifacts.get(n, 0) == 0]
    outside = [n for n in unverified if n not in got]
    assert not outside, f"never-checked/latest-red queries outside block: {outside}"
    assert len(got) == BLOCK_SIZE


def test_rotation_policy_bounds_staleness():
    """Synthetic check of the rotation guarantee: with N names and a
    block of B, repeatedly 'verifying' the block advances every name's
    round within ceil(N/B) rounds — no name is starved."""
    from merkonvectordb_spark.verification import build_priority_block

    names = [f"q{i:03d}" for i in range(184)]
    lv = {n: (i % 5) for i, n in enumerate(names) if i % 7}  # some never-checked
    rounds_needed = 0
    current = dict(lv)
    rnd = 10
    while min((current.get(n, 0) for n in names), default=0) < 10:
        block = build_priority_block(names, current, 50)
        for n in block:
            current[n] = rnd
        rnd += 1
        rounds_needed += 1
        assert rounds_needed <= 4, "rotation failed to cover the registry"
    assert rounds_needed == 4  # ceil(184/50)


def test_no_raw_timestamp_or_date_output_columns(spark, sf_dir):
    """Registry invariant (VERDICT r4 next-round #1): no registered query
    may output a raw TIMESTAMP/TIMESTAMP_NTZ/DATE column.  PySpark's
    ``collect()`` renders TimestampType as a naive ``datetime`` in the
    COLLECTING process's local zone — a property of the harness process
    that no session conf pins (root cause of the r4 ``streaming_window_agg``
    driver hash failure).  Every time value must ship as a ``unix_micros``
    BIGINT or an engine-stable string."""
    from pyspark.sql import types as T

    banned = (T.TimestampType, T.TimestampNTZType, T.DateType)
    offenders: list[str] = []
    for name, fn in entry.queries().items():
        df = fn(spark, sf_dir)
        bad = [
            f.name for f in df.schema.fields if isinstance(f.dataType, banned)
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, "raw time-typed output columns:\n" + "\n".join(offenders)


def test_every_query_has_an_oracle_or_is_documented():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    # every registered query currently carries a DuckDB oracle twin
    assert o == q, f"oracle-less queries: {sorted(q - o)}"


def _duck_con(sf):
    import duckdb

    from merkonvectordb_spark.schema import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    return con


def test_no_hugeint_decimal_or_time_typed_oracle_outputs(sf_dir):
    """Registry invariant (VERDICT r5 next-round #2): no oracle's DuckDB
    output schema may contain HUGEINT, DECIMAL, TIMESTAMP, DATE, or
    TIME.  DuckDB widens every integer ``sum()`` (including windowed
    sums) to HUGEINT (int128); the external gate fetches results via
    pandas/arrow, where int128 lands as float64 (renders ``5.0``) or
    decimal128 (renders ``Decimal('5')``) while Spark's side is a plain
    BIGINT ``5`` — the content hash mismatches with every value
    numerically identical.  This was the SINGLE root cause of all 13 r5
    and all 8 r4 driver-red rows (50/50 predictive, zero exceptions).
    Fix style: ``CAST(sum(x) AS BIGINT)`` in the oracle.  TIMESTAMP/
    DATE were the r4 class (collect() renders them in the collecting
    process's zone) — pinned here in the same sweep."""
    banned = ("HUGEINT", "UHUGEINT", "DECIMAL", "TIMESTAMP", "DATE", "TIME")
    con = _duck_con(sf_dir)
    offenders = []
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        bad = [
            f"{c}:{t}"
            for c, t in zip(rel.columns, rel.types)
            if any(b in str(t).upper() for b in banned)
        ]
        if bad:
            offenders.append(f"{name}: {bad}")
    assert not offenders, (
        "oracle output columns with gate-hostile DuckDB types:\n"
        + "\n".join(offenders)
    )


def test_arrow_fetch_canon_agrees_with_fetchall_canon(sf_dir):
    """The builder's local gate canon (``fetchall()`` → native Python
    ints) could not represent the external gate's pandas/arrow fetch
    path — which is why three rounds of local verification (168/168,
    tuned AND bare) never reproduced the driver's 13 red rows.  Pin the
    second canon mode: for every oracle, hashing the DuckDB result via
    ``canon_rows_arrow`` (arrow round-trip) must agree byte-for-byte
    with hashing ``fetchall()`` rows.  Any oracle whose output type
    mutates across the fetch boundary (HUGEINT→decimal128, etc.) fails
    here locally instead of only in the driver's gate."""
    from merkonvectordb_spark.canon import canon_rows, canon_rows_arrow

    con = _duck_con(sf_dir)
    diverged = []
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        ah, _ = canon_rows_arrow(rel)
        rel2 = con.sql(sql)
        fh, _ = canon_rows(rel2.columns, rel2.fetchall())
        if ah != fh:
            diverged.append(name)
    assert not diverged, (
        f"fetch-path-divergent oracles (arrow canon != fetchall canon): "
        f"{diverged}"
    )


def test_oracles_reference_only_preregistered_views():
    import re

    from merkonvectordb_spark.schema import TESTDATA_TABLES

    allowed = set(TESTDATA_TABLES)
    for name, sql in entry.oracle_sql().items():
        # CTE names defined inside the query are fine; just check the
        # obvious FROM <bare_name> tables that aren't CTEs or subqueries
        ctes = set(re.findall(r"(\w+)\s*(?:\([^()]*\))?\s+AS\s*\(", sql))
        tables = set()
        for m in re.finditer(r"(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b", sql):
            rest = sql[m.end():].lstrip()
            if rest.startswith(")"):
                continue  # extract(hour FROM ts) — not a relation
            tables.add(m.group(1))
        unknown = tables - allowed - ctes - {"unnest", "generate_series"}
        assert not unknown, f"{name}: unknown relations {sorted(unknown)}"


def test_probe_ledger_parses_and_covers_registry():
    """Round 10 (VERDICT r9 #3): PROBES.jsonl is the machine ledger the
    coverage table is computed from.  Every line must parse with the
    fields tools/probe_coverage.py consumes, reference a registered (or
    since-renamed) query, and the combined ledger+history coverage must
    have zero unprobed registered queries — the closeout invariant."""
    import json
    import os

    import __spark_entry__ as entry
    from tools.probe_coverage import _PROSE_SLOPES, ledger_best

    repo = _repo_root()
    path = os.path.join(repo, "PROBES.jsonl")
    assert os.path.exists(path), "PROBES.jsonl missing"
    names = set(entry.queries())
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            assert {"query", "sfs", "walls_sec", "slope_top_decade"} <= set(rec)
            assert len(rec["sfs"]) == len(rec["walls_sec"]) >= 1
    best = ledger_best(path)
    covered = names & (set(best) | set(_PROSE_SLOPES))
    assert covered == names, f"unprobed: {sorted(names - covered)[:10]}"


def test_queries_are_the_registered_functions_and_write_nothing(spark, sf_dir):
    """``queries()`` hands out the registered callables themselves, with
    no wrapper in between, and running a query at the correctness scale
    factor leaves the repo root untouched (no ledger appended, no file
    created)."""
    import os

    from merkonvectordb_spark import registry

    qs = registry.queries()
    assert set(qs) == set(registry._QUERIES)
    for name, fn in qs.items():
        assert fn is registry._QUERIES[name], name

    def root_listing():
        return {
            e.name: (e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(_repo_root())
        }

    correctness_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    before = root_listing()
    qs["tpch_q12"](spark, correctness_dir).collect()
    assert root_listing() == before
