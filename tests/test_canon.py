"""Pin THE oracle-comparison canonicalization (merkonvectordb_spark.canon).

tools/oracle_check.py (the local gate stand-in) and the registry tests
hash result sets through these two functions.  A silent behavior change
here desynchronizes every oracle verdict at once, so the exact rendering
rules are pinned, plus the properties the hash-compare relies on
(column-order and row-order insensitivity, engine-representation
equivalence for the types our queries output)."""

from __future__ import annotations

from datetime import date, datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from merkonvectordb_spark.canon import canon_cell, canon_rows


def test_cell_rendering_rules_pinned():
    assert canon_cell(None) == "\\N"
    assert canon_cell(True) == "true" and canon_cell(False) == "false"
    assert canon_cell(float("nan")) == "NaN"
    assert canon_cell(42) == "42"
    assert canon_cell("x") == "x"
    # floats: 9dp round then repr — the driver-style short round-trip
    assert canon_cell(0.1 + 0.2) == canon_cell(0.3)
    assert canon_cell(1.0) == "1.0"
    # bool is checked BEFORE int (True would otherwise render "1")
    assert canon_cell(1) == "1" and canon_cell(True) == "true"
    # nested lists render recursively with the same rules
    assert canon_cell([1, None, [True]]) == "[1,\\N,[true]]"
    assert canon_cell(datetime(2024, 1, 2, 3, 4, 5, 6)) == (
        "2024-01-02 03:04:05.000006"
    )
    assert canon_cell(date(2024, 1, 2)) == "2024-01-02"


def test_hash_is_column_order_insensitive():
    rows_ab = [(1, "x"), (2, "y")]
    rows_ba = [("x", 1), ("y", 2)]
    h1, _ = canon_rows(["a", "b"], rows_ab)
    h2, _ = canon_rows(["b", "a"], rows_ba)
    assert h1 == h2


def test_hash_is_row_order_insensitive():
    h1, _ = canon_rows(["a"], [(1,), (2,), (3,)])
    h2, _ = canon_rows(["a"], [(3,), (1,), (2,)])
    assert h1 == h2


def test_hash_distinguishes_values():
    h1, _ = canon_rows(["a"], [(1,), (2,)])
    h2, _ = canon_rows(["a"], [(1,), (3,)])
    assert h1 != h2


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.floats(allow_infinity=False, width=64),
            st.text(max_size=20),
            st.booleans() | st.none(),
        ),
        max_size=30,
    ),
    st.randoms(),
)
def test_hash_invariant_under_any_permutation(rows, rnd):
    """Shuffling rows AND columns together never changes the hash —
    the exact insensitivity the driver's compare depends on."""
    cols = ["i", "f", "s", "b"]
    h1, lines1 = canon_rows(cols, rows)
    perm = [0, 1, 2, 3]
    rnd.shuffle(perm)
    shuffled_rows = [tuple(r[i] for i in perm) for r in rows]
    rnd.shuffle(shuffled_rows)
    h2, lines2 = canon_rows([cols[i] for i in perm], shuffled_rows)
    assert h1 == h2 and lines1 == lines2


@settings(max_examples=200, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_float_rendering_is_representation_stable(x):
    """A float that survives a DuckDB/Arrow round-trip unchanged must
    canonicalize identically — and near-equal engine results within
    1e-10 of each other agree after the 9dp round (the driver-style
    tolerance for double fold-order noise)."""
    assert canon_cell(x) == canon_cell(float(str(x)))
    if abs(x) < 1e6:
        assert canon_cell(x) == canon_cell(x + 1e-13 * (1 if x >= 0 else -1)) or (
            # rounding ties can legitimately split on the boundary
            abs(round(x, 9) - round(x + 1e-13, 9)) <= 2e-9
        )
