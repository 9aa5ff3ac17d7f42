"""Deterministic global offset assignment for one commit.

ODF requires every record to get a dense, globally ordered ``offset``
(reference: writer.rs:274-385 — `row_number() over (strategy sort
order) + prev_offset`). A commit is written as one sorted task anyway
(each slice is a sorted Parquet file, and a chunked commit splits in
that same task), so the offsets come from that task too: one shuffle
into a single partition, a sort within it, and
``start_offset + monotonically_increasing_id()`` — in partition 0 that
id is the row index. No count job, window or pinned frame is needed;
the writer observes the row count while it writes.

Large backfills stay bounded per file through the writer's
``max_slice_records``, which splits the single sorted task's output
into several slice files in one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assign_offsets(
    df: DataFrame,
    sort_order: list[Column],
    start_offset: int = 0,
    offset_column: str = "offset",
) -> DataFrame:
    """Add a dense BIGINT ``offset`` column following `sort_order`.

    The result has ONE partition, sorted by offset. Offsets are only
    meaningful to the job that computes them: ties in `sort_order` may
    order differently in another run, so write the frame once and read
    the written rows back rather than re-running it.
    """
    return (
        df.repartition(1)
        .sortWithinPartitions(*sort_order)
        .withColumn(
            offset_column, F.lit(start_offset).cast("long") + F.monotonically_increasing_id()
        )
    )
