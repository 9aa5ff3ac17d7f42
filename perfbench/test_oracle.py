"""Tests of the benchmark's oracle comparison.

    python3 -m pytest perfbench/test_oracle.py -q
"""

import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle import equal_up_to_rounding_ties, rounded_columns  # noqa: E402

Q3_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""
Q3_COLS = ["l_orderkey", "o_orderdate", "o_orderpriority", "revenue"]
# three of seed 109's tpch_q3 rows; Spark's and DuckDB's differ at order 1482
Q3_SPARK = [
    (12895, date(2000, 10, 28), "2-HIGH", 422531.99),
    (866, date(1997, 10, 21), "4-NOT SPECIFIED", 392212.45),
    (1482, date(1995, 1, 12), "2-HIGH", 392000.5),
]
Q3_DUCKDB = Q3_SPARK[:2] + [(1482, date(1995, 1, 12), "2-HIGH", 392000.49)]


def test_rounded_columns():
    assert rounded_columns(Q3_SQL) == {"revenue"}
    assert rounded_columns("SELECT CAST(x AS DATE) AS d, substr(s, 1, 8) AS h FROM t") == set()
    nested = "SELECT round(a / (sqrt(b) * sqrt(c)), 6) AS cosine FROM t"
    assert rounded_columns(nested) == {"cosine"}


def test_seed_109_tpch_q3_tie_is_accepted():
    assert equal_up_to_rounding_ties(Q3_COLS, Q3_SPARK, Q3_COLS, Q3_DUCKDB, rounded_columns(Q3_SQL))


def test_two_units_fail():
    duck = Q3_SPARK[:2] + [(1482, date(1995, 1, 12), "2-HIGH", 392000.48)]
    assert not equal_up_to_rounding_ties(Q3_COLS, Q3_SPARK, Q3_COLS, duck, {"revenue"})


def test_scale_is_per_column_not_per_value():
    # 2.5 against 2.6 is one unit of its own last place, but the column
    # shows two places, so it is ten units
    rows = [(1, 2.5), (2, 3.25)]
    assert not equal_up_to_rounding_ties(["k", "v"], rows, ["k", "v"], [(1, 2.6), (2, 3.25)], {"v"})


def test_unrounded_column_must_match_exactly():
    rows = [(1, 2.25), (2, 3.25)]
    assert not equal_up_to_rounding_ties(["k", "v"], rows, ["k", "v"], [(1, 2.26), (2, 3.25)], set())


def test_null_against_value_fails():
    assert not equal_up_to_rounding_ties(["k", "v"], [(1, None)], ["k", "v"], [(1, 0.01)], {"v"})


def test_other_column_difference_fails():
    duck = Q3_SPARK[:2] + [(1482, date(1995, 1, 12), "3-MEDIUM", 392000.5)]
    assert not equal_up_to_rounding_ties(Q3_COLS, Q3_SPARK, Q3_COLS, duck, {"revenue"})
