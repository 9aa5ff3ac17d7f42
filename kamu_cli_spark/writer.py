"""Data writer — the ingest/transform commit pipeline.

Mirrors the reference's writer stages (writer.rs:106-1225; see
SURVEY.md §2.4) as a sequence of declarative DataFrame transformations:

    validate → normalize timestamps → ensure event_time → MERGE →
    system columns + deterministic offsets → sorted Parquet slice(s)
    (row count + max event time observed by the same job) → schema
    check → hashes → commit AddData/ExecuteTransform

Spark-first notes:

- a commit is one shuffle plus one write job: the merged batch is
  shuffled into one partition and sorted there, offsets are the row
  index in that sorted task (:mod:`kamu_cli_spark.plans.offsets`), and
  the same task writes every slice file in offset order, starting a
  new file after ``max_slice_records`` rows;
- the write job observes the row count and ``max(event_time)``, so the
  offset range and the watermark come from the job that wrote the data;
- object-link checks, the logical hash and keyed-state maintenance
  read the written files, never the merge lineage again;
- previous data is read only for keyed strategies (ledger, snapshot,
  changelog, upsert) — from the materialized latest-per-PK state when
  fresh, else via the ledger's file list. Append and passthrough
  commits never list the history (the reference's full-history scan,
  writer.rs:232 TODO).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kamu_cli_spark.dataset import Dataset
from kamu_cli_spark.operators.merge import MergeStrategy
from kamu_cli_spark.plans.offsets import assign_offsets
from kamu_cli_spark.vocab import DatasetVocabulary


class WriterError(Exception):
    pass


# Spark's per-task file counter: part-00000-<uuid>-c000, -c001, ...,
# -c1000 — numeric, so name order breaks past 999 files
_FILE_COUNTER = re.compile(r"-c(\d+)\.snappy\.parquet$")


def _schema_to_json(schema: T.StructType) -> list[dict[str, Any]]:
    return [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in schema.fields
    ]


class DataWriter:
    """Stages and commits one batch of new data into a dataset."""

    def __init__(
        self,
        dataset: Dataset,
        strategy: MergeStrategy,
        compute_logical_hash: bool = False,
        maintain_state: bool = True,
        max_slice_records: int | None = None,
        object_link_columns: list[str] | None = None,
        infer_schema: bool = False,
    ):
        """`compute_logical_hash`: also record the order-sensitive row
        digest in AddData (costs a per-row hash collect; physical file
        hash is always recorded). `maintain_state`: keep the
        latest-per-PK materialized state up to date per commit so merges
        read O(|keys|) instead of O(|history|). `max_slice_records`:
        split oversized batches into multiple sequential slice commits —
        each ODF slice is one sorted file; the one sorted write task
        starts a new file every `max_slice_records` rows, so every file
        stays bounded while offsets stay dense across the chunks.
        `infer_schema`: apply the reference's best-effort ingest
        inference (rename system-column clashes, coerce event_time) —
        the ingest paths enable it; direct writer use stays strict."""
        self.dataset = dataset
        self.strategy = strategy
        self.vocab: DatasetVocabulary = dataset.vocab
        self.compute_logical_hash = compute_logical_hash
        self.maintain_state = maintain_state
        self.max_slice_records = max_slice_records
        self.object_link_columns = object_link_columns or []
        self.infer_schema = infer_schema

    # -- pipeline ------------------------------------------------------

    def preprocess_inferred(self, new: DataFrame) -> DataFrame:
        """Best-effort inference for externally ingested data, applied
        before validation (reference preprocess_default,
        ingest_common.rs:60-177):

        - data columns clashing with system columns are renamed with a
          leading ``_`` instead of rejected (the op column only counts
          as a clash for strategies that stamp it themselves — changelog
          and upsert inputs legitimately carry it);
        - an integer event_time is treated as a UNIX timestamp in
          seconds;
        - a string event_time is parsed as an RFC3339 timestamp (Spark's
          string→timestamp cast accepts the ISO 8601 forms the
          reference's to_timestamp_millis accepts).

        The reference applies this only when the READ step declares no
        explicit schema (``read_step.schema().is_none()``); that gate
        lives at the caller — ingest paths construct the writer with
        ``infer_schema=True`` unless the source declares a read schema.
        The rename is idempotent across polls (offset→_offset every
        batch), so repeated ingestion keeps a stable schema.
        """
        v = self.vocab
        clashes = {v.offset_column, v.system_time_column}
        if not getattr(self.strategy, "consumes_op_column", False):
            clashes.add(v.operation_type_column)
        for c in list(new.columns):
            if c in clashes:
                new = new.withColumnRenamed(c, f"_{c}")
        if v.event_time_column in new.columns:
            dt = dict(new.dtypes)[v.event_time_column]
            et = F.col(v.event_time_column)
            if dt in ("tinyint", "smallint", "int", "bigint"):
                new = new.withColumn(
                    v.event_time_column, F.timestamp_seconds(et)
                )
            elif dt == "string":
                new = new.withColumn(v.event_time_column, et.cast("timestamp"))
        return new

    def validate_input(self, new: DataFrame) -> None:
        """Reject data columns clashing with system columns and malformed
        event_time (reference: writer.rs:106-160)."""
        v = self.vocab
        clashes = [v.offset_column, v.system_time_column]
        # strategies that stamp their own op column must not receive one
        # (changelog/upsert inputs legitimately carry it)
        if not getattr(self.strategy, "consumes_op_column", False):
            clashes.append(v.operation_type_column)
        for c in clashes:
            if c in new.columns:
                raise WriterError(f"input column clashes with system column: {c}")
        if v.event_time_column in new.columns:
            dt = dict(new.dtypes)[v.event_time_column]
            if not (dt.startswith("timestamp") or dt == "date"):
                raise WriterError(
                    f"event_time column must be Date or Timestamp, got {dt}"
                )

    def verify_object_links(self, df: DataFrame) -> dict[str, Any] | None:
        """ObjectLink columns hold content hashes referencing external
        objects under the dataset's ``objects/`` store; every reference
        must resolve, and the commit records count + total linked size
        (reference: writer.rs:714-904 linked-objects summary).

        Distributed-safe: Spark reduces to the DISTINCT link set; only
        that bounded set reaches the driver for existence checks.
        """
        if not self.object_link_columns:
            return None
        links: set[str] = set()
        for c in self.object_link_columns:
            if c not in df.columns:
                raise WriterError(f"object link column missing: {c}")
            links.update(
                r[0]
                for r in df.select(c).filter(F.col(c).isNotNull()).distinct().collect()
            )
        obj_dir = os.path.join(self.dataset.path, "objects")
        total = 0
        for link in sorted(links):
            path = os.path.join(obj_dir, link)
            if not os.path.exists(path):
                raise WriterError(f"object link does not resolve: {link}")
            total += os.path.getsize(path)
        return {"count": len(links), "total_size": total}

    def coerce_to_declared(self, new: DataFrame) -> DataFrame:
        """Cast incoming columns to the declared SetDataSchema types
        (reference coerce_schema, writer.rs:387-515): push-ingested JSON
        arrives with inferred wide types (bigint for int, double for
        float) that must narrow to the committed schema."""
        declared = self.dataset.schema_event()
        if declared is None:
            return new

        numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
        times = {"timestamp", "timestamp_ntz", "date"}

        def coercible(have: str, want: str) -> bool:
            if have in numeric and want in numeric:
                return True
            if have.startswith("decimal") and (
                want in numeric or want.startswith("decimal")
            ):
                return True
            if have in numeric and want.startswith("decimal"):
                return True
            return have in times and want in times

        types = {f["name"]: f["type"] for f in declared["fields"]}
        out = new
        for c in new.columns:
            want = types.get(c)
            have = dict(new.dtypes)[c]
            # only same-family coercions (ODF compat rules reject type
            # changes across families — writer.rs:413-515); incompatible
            # columns fall through to validate_schema_compatible
            if want is not None and have != want and coercible(have, want):
                out = out.withColumn(c, F.col(c).cast(want))
        return out

    def ensure_event_time(self, df: DataFrame) -> DataFrame:
        if self.vocab.event_time_column not in df.columns:
            df = df.withColumn(
                self.vocab.event_time_column, F.lit(None).cast("timestamp")
            )
        return df

    def with_system_columns(
        self,
        df: DataFrame,
        system_time: datetime,
        start_offset: int,
        source_event_time: datetime | None = None,
    ) -> DataFrame:
        v = self.vocab
        fallback = source_event_time or system_time
        df = df.withColumn(
            v.event_time_column,
            F.coalesce(
                F.col(v.event_time_column).cast("timestamp"),
                F.lit(fallback).cast("timestamp"),
            ),
        ).withColumn(v.system_time_column, F.lit(system_time).cast("timestamp"))
        data_cols = [c for c in df.columns if c not in v.system_columns()]
        return assign_offsets(
            df,
            self.strategy.sort_order(),
            start_offset=start_offset,
            offset_column=v.offset_column,
        ).select(
            v.offset_column,
            v.operation_type_column,
            v.system_time_column,
            v.event_time_column,
            *data_cols,
        )

    def validate_schema_compatible(self, df: DataFrame) -> None:
        """Columns shared with the declared SetDataSchema must keep their
        type (the reference fixes the whole schema at first write,
        writer.rs:413-515, and carries schema evolution as a TODO); this
        writer goes further and permits ADDITIVE evolution — a batch may
        introduce new columns (re-declared via a fresh SetDataSchema
        block) or omit declared ones (null-filled) — but never change an
        existing column's type, which would corrupt the changelog."""
        declared = self.dataset.schema_event()
        if declared is None:
            return
        want = {f["name"]: f["type"] for f in declared["fields"]}
        for f in df.schema.fields:
            expect = want.get(f.name)
            if expect is not None and expect != f.dataType.simpleString():
                raise WriterError(
                    f"schema incompatible with declared SetDataSchema: "
                    f"column {f.name!r} declared {expect} got "
                    f"{f.dataType.simpleString()}"
                )

    def fill_missing_declared(self, df: DataFrame) -> DataFrame:
        """Add declared data columns absent from the batch as typed
        nulls, so merge strategies and slices stay column-complete
        across additive schema evolution."""
        declared = self.dataset.schema_event()
        if declared is None:
            return df
        have = set(df.columns)
        system = set(self.vocab.system_columns())
        for f in declared["fields"]:
            if f["name"] not in have and f["name"] not in system:
                df = df.withColumn(f["name"], F.lit(None).cast(f["type"]))
        return df

    def write_slice(
        self, df: DataFrame, tmp_dir: str
    ) -> tuple[list[str], int, datetime | None]:
        """Write the whole commit under `tmp_dir` with ONE Spark job and
        return (staged files in offset order, row count, max event time).

        `df` is one partition sorted by offset, so one task writes every
        file, starting a new one after `max_slice_records` rows (0: no
        limit — set explicitly, so a session-wide
        ``spark.sql.files.maxRecordsPerFile`` cannot split a slice). The
        count and max event time are observed by that same job."""
        obs = Observation()
        (
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.max(self.vocab.event_time_column).alias("max_et"),
            )
            .write.option("maxRecordsPerFile", self.max_slice_records or 0)
            .parquet(tmp_dir, compression="snappy")
        )
        stats = obs.get
        staged = sorted(
            (f for f in os.listdir(tmp_dir) if _FILE_COUNTER.search(f)),
            key=lambda f: int(_FILE_COUNTER.search(f).group(1)),
        )
        return [os.path.join(tmp_dir, f) for f in staged], stats["n"], stats["max_et"]

    # -- entry point ---------------------------------------------------

    def write(
        self,
        spark: SparkSession,
        new: DataFrame,
        system_time: datetime | None = None,
        source_event_time: datetime | None = None,
        event_kind: str = "AddData",
        extra_event: dict[str, Any] | None = None,
        explicit_watermark: str | None = None,
    ) -> dict[str, Any] | None:
        """Run the full pipeline; returns the committed event (or None if
        the merge produced no changes — an up-to-date poll).

        `explicit_watermark` (ISO string) overrides the default
        max-event-time watermark — derivative transforms pass the MIN
        over their inputs' watermarks (the ODF completeness rule: a
        derived stream is only as complete as its least-complete
        input), clamped monotonic against the previous watermark.
        """
        system_time = system_time or datetime.now(timezone.utc)
        v = self.vocab

        if self.infer_schema:
            new = self.preprocess_inferred(new)
        self.validate_input(new)
        new = self.coerce_to_declared(new)
        new = self.fill_missing_declared(new)
        # Only keyed strategies look at `prev`. They prefer the
        # materialized latest-per-PK state over a full-history scan:
        # every PK-based strategy starts by projecting `prev`, and
        # projection is idempotent, so the compact state is a drop-in
        # replacement (fixes the prev-data full-scan debt the reference
        # documents at writer.rs:232).
        prev = None
        pk = getattr(self.strategy, "primary_key", None)
        if pk and self.maintain_state:
            prev = self.dataset.read_state(spark, primary_key=pk)
        if pk and prev is None:
            prev = self.dataset.read(spark)
        if prev is not None:
            # additive evolution: brand-new batch columns appear in prev
            # as typed nulls so PK strategies diff/union consistent
            # schemas (a prior value of "absent" IS null — snapshot then
            # correctly emits +C for rows that gain a value)
            for f in new.schema.fields:
                if f.name not in prev.columns:
                    prev = prev.withColumn(f.name, F.lit(None).cast(f.dataType))
        merged = self.strategy.merge(prev, new)
        merged = self.ensure_event_time(merged)

        start_offset = self.dataset.chain.next_offset()
        full = self.with_system_columns(
            merged, system_time, start_offset, source_event_time
        )
        declared = self.dataset.schema_event()
        if declared is not None:
            # keep the declared column order stable across writes;
            # evolved (new) columns append at the end
            order = [f["name"] for f in declared["fields"] if f["name"] in full.columns]
            extras = [c for c in full.columns if c not in order]
            if full.columns != order + extras:
                full = full.select(*order, *extras)

        def read_written(paths: list[str]) -> DataFrame:
            # with the lineage's schema: the same types, and no
            # footer-sampling job
            return spark.read.schema(full.schema).parquet(*paths)

        tmp_dir = os.path.join(self.dataset.path, f".tmp-{uuid.uuid4().hex[:8]}")
        try:
            staged, n, max_et = self.write_slice(full, tmp_dir)
            if n == 0:
                return None

            self.validate_schema_compatible(full)
            lo, hi = start_offset, start_offset + n - 1
            step = self.max_slice_records or n
            bounds = [
                (a, min(a + step - 1, hi)) for a in range(lo, hi + 1, step)
            ]
            if len(staged) != len(bounds):
                raise WriterError(
                    f"slice write produced {len(staged)} files for "
                    f"{len(bounds)} slices of offsets {lo}..{hi}"
                )
            if len(bounds) > 1 and (extra_event or {}).get("streaming_batch"):
                # the replay-dedup marker rides on the LAST slice block;
                # a crash between slice commits would leave earlier
                # slices durable but unmarked and the replayed batch
                # would duplicate them — fail loudly instead of
                # breaking the sink's exactly-once contract
                raise WriterError(
                    "a streaming batch must commit as a single slice: "
                    f"{len(bounds)} slices under max_slice_records="
                    f"{self.max_slice_records}; raise it or split the "
                    "stream upstream"
                )
            linked = self.verify_object_links(read_written(staged))

            fields = _schema_to_json(full.schema)
            if declared is None or [
                (f["name"], f["type"]) for f in declared["fields"]
            ] != [(f["name"], f["type"]) for f in fields]:
                # first write, or additive evolution: (re-)declare the
                # schema ahead of the data blocks that use it
                self.dataset.chain.append(
                    {"kind": "SetDataSchema", "fields": fields},
                    system_time=system_time.isoformat(),
                )

            from kamu_cli_spark.verification import (
                LOGICAL_HASH_SCHEME,
                logical_hash,
                physical_hash,
            )

            prev_wm = self.dataset.chain.current_watermark()
            if explicit_watermark is not None:
                new_wm = (
                    explicit_watermark
                    if prev_wm is None or explicit_watermark > prev_wm
                    else prev_wm
                )
            elif event_kind == "ExecuteTransform":
                # derivative with no input watermark (some input never
                # asserted one): deriving a watermark from the OUTPUT's
                # event times would advance completeness beyond anything
                # the inputs claimed — keep the previous watermark (the
                # reference emits no watermark when inputs have none)
                new_wm = prev_wm
            elif max_et is not None:
                et_iso = max_et.replace(tzinfo=timezone.utc).isoformat()
                new_wm = et_iso if prev_wm is None or et_iso > prev_wm else prev_wm
            else:
                new_wm = prev_wm

            event = None
            committed = []
            for (a, b), src in zip(bounds, staged):
                last = b == hi
                # The committed filename carries a unique nonce: two
                # writers racing the same (seq, start, end) can never
                # target the same final path, so the loser of the chain
                # CAS leaves only an orphan file (reaped by compaction GC)
                # and can't overwrite the winner's durable bytes.
                seq = len(self.dataset.chain)
                rel = f"data/{seq:06d}-{a}-{b}-{uuid.uuid4().hex[:8]}.parquet"
                path = os.path.join(self.dataset.path, rel)
                os.replace(src, path)
                lhash = (
                    logical_hash(read_written([path]), v.offset_column)
                    if self.compute_logical_hash
                    else None
                )
                event = {
                    "kind": event_kind,
                    "new_data": {
                        "path": rel,
                        "offset_interval": {"start": a, "end": b},
                        "num_records": b - a + 1,
                        "size": os.path.getsize(path),
                        "physical_hash": physical_hash(path),
                        **(
                            {
                                "logical_hash": lhash,
                                "logical_hash_scheme": LOGICAL_HASH_SCHEME,
                            }
                            if lhash
                            else {}
                        ),
                    },
                    # watermark advances once the batch is fully durable
                    "new_watermark": new_wm if last else prev_wm,
                    **({"linked_objects": linked} if linked and last else {}),
                    **((extra_event or {}) if last else {}),
                }
                try:
                    self.dataset.chain.append(
                        event, system_time=system_time.isoformat()
                    )
                except Exception:
                    # A CAS-losing / failed append must not leave its slice
                    # behind: read_dataset_stream globs data/ directly, so
                    # an orphan would surface uncommitted rows in streaming
                    # output until clean_orphan_slices() runs.
                    try:
                        os.remove(path)
                    except OSError:
                        pass
                    raise
                committed.append(path)

            if self.maintain_state and pk:
                from kamu_cli_spark.operators.merge import (
                    project_changelog_keep_retractions,
                )

                written = read_written(committed)
                combined = written if prev is None else prev.unionByName(written)
                self.dataset.write_state(
                    project_changelog_keep_retractions(combined, pk, v),
                    primary_key=pk,
                )
            return event
        finally:
            shutil.rmtree(tmp_dir, ignore_errors=True)
