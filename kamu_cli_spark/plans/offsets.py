"""Deterministic, scalable global offset assignment.

ODF requires every record to get a dense, globally ordered ``offset``
(reference: writer.rs:274-385 — `row_number() over (strategy sort
order) + prev_offset`). A naive global window (`Window.orderBy(...)`
without partitioning) funnels ALL rows through a single partition —
fatal at 100 TB. We instead do the classic two-phase ranking:

1. range-repartition + sort within partitions on the sort keys
   (a distributed sort — same shuffle a global orderBy would do);
2. count rows per physical partition (small job over the persisted
   sorted data), prefix-sum the counts on the driver;
3. add `row_number within partition + partition base` — a
   partition-local window (no second global sort, no single-reducer
   bottleneck).

Ties in the sort order get deterministic treatment by appending the
remaining columns as implicit tie-breakers when requested.
"""

from __future__ import annotations

from datetime import datetime
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class AssignedOffsets(NamedTuple):
    df: DataFrame
    # the persisted sorted frame `df` reads; the caller unpersists it
    # once every consumer of `df` has run
    pinned: DataFrame
    # row count per physical partition; offsets start at start_offset
    # and are dense, so sum(counts) rows span start_offset..+n-1
    counts: dict[int, int]
    max_event_time: datetime | None


def assign_offsets(
    df: DataFrame,
    sort_order: list[Column],
    start_offset: int = 0,
    offset_column: str = "offset",
    num_partitions: int | None = None,
    event_time_column: str = "event_time",
) -> AssignedOffsets:
    """Add a dense BIGINT ``offset`` column following `sort_order`.

    The returned ``df`` is sorted by offset across partitions (partition
    i holds offsets strictly below partition i+1). It reads ``pinned``,
    which is persisted MEMORY_AND_DISK; the caller must
    ``pinned.unpersist()`` when done with ``df``. The one count job also
    yields ``max(event_time_column)``.
    """
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)

    sorted_df = df.repartitionByRange(num_partitions, *sort_order).sortWithinPartitions(
        *sort_order
    )
    with_pid = sorted_df.withColumn("__pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rows = with_pid.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("cnt"), F.max(event_time_column).alias("max_et")
    ).collect()
    counts = {r["__pid"]: r["cnt"] for r in rows}
    ets = [r["max_et"] for r in rows if r["max_et"] is not None]
    base = start_offset
    bases: dict[int, int] = {}
    for pid in sorted(counts):
        bases[pid] = base
        base += counts[pid]

    base_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in bases.items() for x in kv]),
        F.col("__pid"),
    ) if bases else F.lit(start_offset)

    w = Window.partitionBy("__pid").orderBy(*sort_order)
    out = (
        with_pid.withColumn(
            offset_column,
            (F.row_number().over(w) - 1 + base_expr).cast("long"),
        )
        .drop("__pid")
    )
    return AssignedOffsets(out, with_pid, counts, max(ets, default=None))
