"""THE canonicalization for oracle comparisons — single source of truth.

The local gate stand-in (``tools/oracle_check.py``) and the registry
tests (``tests/test_registry.py``) hash result sets through these
functions.  They exist exactly once so a hash match reported by one
means the same bytes were hashed by the other.
"""

from __future__ import annotations

import hashlib
from datetime import date, datetime
from decimal import Decimal


def canon_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        # a Decimal reaching the canon means a DuckDB HUGEINT/DECIMAL
        # output column survived to the fetch layer — the exact class
        # behind the r4/r5 driver-only hash failures (the gate fetches
        # via pandas/arrow, where int128 becomes float64/decimal128 and
        # renders '5.0'/Decimal('5') against Spark's plain '5').  Render
        # it DISTINCTLY so the dual-canon test fails loudly instead of
        # silently agreeing via str(); the registry bans the type.
        return f"dec:{v}"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # driver-style float canonicalization: short round-trip repr
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list, rows: list) -> tuple[str, list[str]]:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted by their canonical line.  Returns (sha256, sorted lines)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, lines


def canon_rows_arrow(rel) -> tuple[str, list[str]]:
    """Driver-fetch-path canon: round-trip a DuckDB relation through
    ``.arrow()`` before hashing.  The external gate does NOT use
    ``fetchall()`` (native Python ints) — it fetches through
    pandas/arrow, where DuckDB's HUGEINT (the silent widening of every
    integer ``sum()``, including windowed sums) becomes float64 or
    decimal128 and hash-diverges from Spark's BIGINT even when every
    value is numerically identical.  ``fetchall()`` canon could never
    see that divergence (three rounds of local verification proved it);
    this one can.  ``tests/test_registry.py`` asserts, for every
    registered oracle, that this canon hash-agrees with the
    ``fetchall()`` canon — which holds iff no oracle output column is
    HUGEINT/DECIMAL (Decimal cells render distinctly, see canon_cell).

    Arrow's ``to_pylist`` preserves what the gate observably preserves
    (``versioned_table_diff`` was driver-green in r5 with NULL-bearing
    BIGINT output columns, ruling out the pandas NaN-float path):
    int64 stays int, NULLs stay None, float64 stays float.
    """
    tb = rel.arrow()
    cols = list(tb.schema.names)
    # positional column extraction — to_pylist() returns dicts, which
    # would silently collapse duplicate output column names onto the
    # LAST column's values and hash a row that was never fetched
    colvals = [tb.column(i).to_pylist() for i in range(tb.num_columns)]
    pyrows = [tuple(vals) for vals in zip(*colvals)] if colvals else []
    return canon_rows(cols, pyrows)
