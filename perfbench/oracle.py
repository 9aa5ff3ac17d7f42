"""Comparison of an operator query's rows with its DuckDB oracle.

The exact test is `tools/oracle_check.py`'s `table_hash`. One difference
is allowed beside it: in a column the oracle SQL computes as
`round(<expr>, k)`, a value may differ by one unit at the column's scale.
Both engines round a double aggregate, and they sum doubles in different
orders, so a sum that lands on a half-unit tie can round either way: on
seed 109, `tpch_q3`'s revenue for order 1482 sums to 392000.49499999994
in DuckDB and to 392000.495 in Spark, which round to 392000.49 and
392000.5.
"""

from __future__ import annotations

import re
from decimal import Decimal

_ROUND_ARG = re.compile(r",\s*\d+\s*(\))\s+AS\s+(\w+)", re.IGNORECASE)


def rounded_columns(sql: str) -> set[str]:
    """Output columns that `sql` computes as `round(<expr>, k) AS name`."""
    out = set()
    for m in _ROUND_ARG.finditer(sql):
        depth, i = 0, m.start(1)
        while i >= 0:
            if sql[i] == ")":
                depth += 1
            elif sql[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        if i > 0 and sql[:i].rstrip().lower().endswith("round"):
            out.add(m.group(2))
    return out


def _places(v: float) -> int:
    """Decimal places the shortest repr of `v` shows."""
    return max(0, -Decimal(repr(float(v))).as_tuple().exponent)


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


def equal_up_to_rounding_ties(cols, rows, ocols, orows, rounded: set[str]) -> bool:
    """Row multisets equal, except that a value in a `rounded` column may
    differ by one unit at that column's scale: the most decimal places
    any of its values shows on either side. Every other column, and a
    null against a non-null, must match exactly (by `canon`)."""
    from tools.oracle_check import canon

    if len(rows) != len(orows) or sorted(cols) != sorted(ocols):
        return False
    order = [ocols.index(c) for c in cols]
    orows = [tuple(r[i] for i in order) for r in orows]
    tied = [i for i, c in enumerate(cols) if c in rounded]
    unit = {}
    for i in tied:
        shown = [_places(r[i]) for r in rows + orows if not _is_null(r[i])]
        unit[i] = 10.0 ** -max(shown, default=0)

    def key(r):
        exact = tuple(canon(v) for i, v in enumerate(r) if i not in unit)
        return exact, tuple((0, 0.0) if _is_null(r[i]) else (1, float(r[i])) for i in tied)

    for a, b in zip(sorted(rows, key=key), sorted(orows, key=key)):
        for i, (x, y) in enumerate(zip(a, b)):
            if i not in unit or _is_null(x) or _is_null(y):
                if canon(x) != canon(y):
                    return False
            elif abs(float(x) - float(y)) > unit[i] * (1 + 1e-9):
                return False
    return True
