"""Query/oracle registry shared by all query modules.

Each driver-facing query registers a ``(spark, sf_dir) -> DataFrame``
callable plus (usually) a DuckDB-equivalent oracle SQL string.  Parity
rules (identical aliases both sides, raw-score thresholds with
output-only rounding, deterministic tie-breaks) are documented in
``queries.py``'s module docstring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Explicit verification-priority order.  The external harness hash-checks
# only the FIRST 50 entries of ``queries()`` per round, so each round we
# front-load the names that still lack a green driver row (names not
# listed keep registration order after the prioritized block).  The full
# registry is always returned — this reorders, never hides.
_PRIORITY: list[str] = []


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # a silent overwrite once cost a registered query (a rewrite
        # re-used its name); collisions are always bugs — fail loudly
        if name in _QUERIES:
            raise ValueError(f"query {name!r} registered twice")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def set_priority(names: list[str]) -> None:
    _PRIORITY[:] = list(names)


def queries() -> dict[str, QueryFn]:
    out = {n: _QUERIES[n] for n in _PRIORITY if n in _QUERIES}
    for n, fn in _QUERIES.items():
        out.setdefault(n, fn)
    return out


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
