"""Nullability-repair assertions — the reference's scalar UDF surface
(src/odf/data-utils/src/data/udf.rs:40-259): fail the query if a column
that is logically non-null (e.g. after an outer join the engine widened
it) actually contains nulls.

Spark-first: `F.assert_true` raises executor-side during the scan —
no extra pass, no collect; stays inside codegen."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def assert_not_null(col: Column | str, name: str | None = None) -> Column:
    """Value-preserving expression that raises if the value is null.

    Built as `CASE WHEN col IS NOT NULL THEN col ELSE raise_error END` —
    the error branch carries the value type, so Catalyst cannot fold the
    assertion away."""
    c = F.col(col) if isinstance(col, str) else col
    label = name or (col if isinstance(col, str) else "column")
    return F.when(c.isNotNull(), c).otherwise(
        F.raise_error(F.lit(f"unexpected null in {label}"))
    )


def assert_list_elements_not_null(col: Column | str, name: str | None = None) -> Column:
    """Raises if any array element is null."""
    c = F.col(col) if isinstance(col, str) else col
    label = name or (col if isinstance(col, str) else "column")
    ok = F.forall(c, lambda x: x.isNotNull())
    return F.when(c.isNull() | ok, c).otherwise(
        F.raise_error(F.lit(f"unexpected null element in {label}"))
    )

