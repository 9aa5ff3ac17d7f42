"""Incremental derivative transforms.

A derivative dataset declares a SQL transform over input datasets
(`SetTransform`). Each pull processes only the half-open offset interval
``(prev_offset, new_offset]`` of every input, runs the multi-step SQL
(each step = a temp view; the last/unaliased step is the output), and
commits `ExecuteTransform` recording the consumed intervals — fully
deterministic and replayable.

Reference lifecycle: transform_helpers.rs:29-269 (elaboration),
transform_executor_impl.rs:72-191 (execution/commit),
dtos_generated.rs:1496-1539 (Transform DTO: `query` or multi-step
`queries`). Spark-first: the "engine" is just `spark.sql` over temp
views of the pruned slice files — Catalyst sees ONLY the new slices, so
incremental cost tracks new-data volume, not history.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import Column, functions as F

from kamu_cli_spark.dataset import Dataset
from kamu_cli_spark.operators.merge import MergeStrategyAppend, MergeStrategy
from kamu_cli_spark.vocab import OperationType as Op
from kamu_cli_spark.writer import DataWriter


class TransformError(Exception):
    pass


class _PassthroughOps(MergeStrategy):
    """Transform output already carries an `op` column — retractions and
    corrections from the input flow through map-style transforms
    unchanged (reference: test_engine_transform.rs:395+)."""

    consumes_op_column = True

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        op = self.vocab.operation_type_column
        others = [c for c in new.columns if c != op]
        return new.select(F.col(op).cast("int").alias(op), *others)

    def sort_order(self) -> list[Column]:
        return [F.col(self.vocab.event_time_column).asc_nulls_first()]


def set_transform(
    dataset: Dataset,
    inputs: dict[str, str],
    queries: list[dict[str, str]] | str,
    system_time: str | None = None,
    temporal_tables: dict[str, list[str]] | None = None,
    executor: dict[str, Any] | None = None,
) -> None:
    """Declare the transform: `inputs` maps query alias → dataset path;
    `queries` is SQL or [{"alias": ..., "query": ...}, ...] where the
    final step (no alias) is the output.

    `temporal_tables` maps an input alias to its primary key, declaring
    it a versioned lookup table (the ODF Transform DTO's temporalTables,
    dtos_generated.rs:1485-1490): each pull registers its FULL history
    up to the consumed head — as-of lookups need every past version —
    instead of the unprocessed interval. The reference's Flink engine
    serves such inputs to `FOR SYSTEM_TIME AS OF`; Spark SQL expresses
    the same lookup as a LATERAL or window as-of join over the history
    (see examples/currency_conversion)."""
    if isinstance(queries, str):
        queries = [{"query": queries}]
    event: dict[str, Any] = {
        "kind": "SetTransform",
        "inputs": inputs,
        "queries": queries,
    }
    if temporal_tables:
        event["temporal_tables"] = temporal_tables
    if executor:
        event["executor"] = executor
    dataset.chain.append(event, system_time=system_time)


class TransformExecutor:
    """Plan + execute one incremental transform iteration."""

    def __init__(self, dataset: Dataset, strategy: MergeStrategy | None = None):
        self.dataset = dataset
        b = dataset.chain.last_event("SetTransform")
        if b is None:
            raise TransformError(f"dataset {dataset.name} has no SetTransform")
        self.inputs: dict[str, str] = b.event["inputs"]
        self.queries: list[dict[str, str]] = b.event["queries"]
        self.temporal_tables: dict[str, list[str]] = b.event.get(
            "temporal_tables"
        ) or {}
        self.strategy = strategy or MergeStrategyAppend(dataset.vocab)

    def _last_processed_offsets(self) -> dict[str, int]:
        """Per input alias, last consumed offset (exclusive lower bound)."""
        out: dict[str, int] = {}
        for b in self.dataset.chain.iter_events("ExecuteTransform"):
            for alias, iv in b.event.get("query_inputs", {}).items():
                if iv.get("new_offset") is not None:
                    out[alias] = iv["new_offset"]
        return out

    def input_watermark(self) -> str | None:
        """The ODF completeness rule for derivatives: the output
        watermark is the MIN over the inputs' current watermarks (a
        derived stream is only as complete as its least-complete
        input; the reference ships each input's explicit_watermarks to
        the engine — transform_helpers.rs:228-263 — and the engine
        emits the min). None while any input is unwatermarked."""
        wms = []
        for path in self.inputs.values():
            wm = Dataset(path).chain.current_watermark()
            if wm is None:
                return None
            wms.append(wm)
        return min(wms) if wms else None

    def elaborate(self, spark: SparkSession) -> dict[str, Any] | None:
        """Compute per-input unprocessed intervals; None if up to date.

        A pull proceeds on new offsets OR a pure watermark advance
        (reference: transform_elaboration_service_impl.rs:68 skips only
        when data slices AND explicit watermarks are both empty) — a
        watermark-only iteration commits an empty ExecuteTransform
        carrying the advanced watermark downstream."""
        last = self._last_processed_offsets()
        plan: dict[str, Any] = {"inputs": {}}
        any_new = False
        for alias, path in self.inputs.items():
            src = Dataset(path)
            head_next = src.chain.next_offset()
            prev = last.get(alias)
            new_offset = head_next - 1 if head_next > 0 else None
            interval = {
                "prev_offset": prev,
                "new_offset": new_offset,
            }
            if new_offset is not None and (prev is None or new_offset > prev):
                any_new = True
            plan["inputs"][alias] = interval
        plan["input_watermark"] = self.input_watermark()
        if not any_new:
            in_wm = plan["input_watermark"]
            out_wm = self.dataset.chain.current_watermark()
            all_have_data = all(
                iv["new_offset"] is not None for iv in plan["inputs"].values()
            )
            # a pure watermark advance needs every input's schema to
            # exist (a data-less but watermarked input can't register a
            # typed empty view yet) — those pulls stay clean no-ops
            if (
                all_have_data
                and in_wm is not None
                and (out_wm is None or in_wm > out_wm)
            ):
                any_new = True
        return plan if any_new else None

    def _run_queries(self, spark: SparkSession, drop_op: bool) -> DataFrame:
        """Run the declared steps over the registered input views (each
        aliased step becomes a view) and return the unaliased output
        without the offset/system_time columns inputs carried through —
        and without `op` when `drop_op`, for executors that derive their
        own changelog."""
        result: DataFrame | None = None
        for step in self.queries:
            df = spark.sql(step["query"])
            if step.get("alias"):
                df.createOrReplaceTempView(step["alias"])
            else:
                result = df
        if result is None:
            raise TransformError("transform has no unaliased output step")
        v = self.dataset.vocab
        system = [v.offset_column, v.system_time_column]
        if drop_op:
            system.append(v.operation_type_column)
        drop = [c for c in system if c in result.columns]
        return result.drop(*drop) if drop else result

    def _commit_changelog(self, spark, events, plan, system_time, strategy):
        """Commit `events` through `strategy`, recording consumed
        intervals even when nothing is written (so nothing reprocesses;
        the reference commits ExecuteTransform with empty new_data)."""
        writer = DataWriter(self.dataset, strategy)
        in_wm = plan["input_watermark"]
        event = writer.write(
            spark,
            events,
            system_time=system_time,
            event_kind="ExecuteTransform",
            extra_event={"query_inputs": plan["inputs"]},
            explicit_watermark=in_wm,
        )
        if event is None:
            event = {
                "kind": "ExecuteTransform",
                "new_data": None,
                "new_watermark": self._monotonic_wm(in_wm),
                "query_inputs": plan["inputs"],
            }
            self.dataset.chain.append(event, system_time=system_time.isoformat())
        return event

    def _monotonic_wm(self, in_wm: str | None) -> str | None:
        out_wm = self.dataset.chain.current_watermark()
        if in_wm is None:
            return out_wm
        return in_wm if out_wm is None or in_wm > out_wm else out_wm

    def execute(
        self,
        spark: SparkSession,
        system_time: datetime | None = None,
    ) -> dict[str, Any] | None:
        """Run one incremental iteration; returns the committed event."""
        plan = self.elaborate(spark)
        if plan is None:
            return None
        system_time = system_time or datetime.now(timezone.utc)

        from kamu_cli_spark.operators.merge import project_temporal_versions

        for alias, iv in plan["inputs"].items():
            src = Dataset(self.inputs[alias])
            lo = None if alias in self.temporal_tables else iv["prev_offset"]
            df = src.read_between(spark, lo, iv["new_offset"])
            if df is None:
                df = spark.read.parquet(  # empty frame w/ right schema
                    *(src.slice_paths()[:1] or [])
                ).limit(0) if src.slice_paths() else None
            if df is None:
                raise TransformError(f"input {alias} has no data or schema")
            if alias in self.temporal_tables:
                # the user's as-of SQL must see temporal-table VERSIONS,
                # not the raw changelog — otherwise retracted/corrected
                # lookup rows remain match candidates (same defect class
                # as the round-6 streaming-enrich ADVICE, batch side)
                df = project_temporal_versions(
                    df, self.temporal_tables[alias], vocab=src.vocab
                )
            df.createOrReplaceTempView(alias)

        result = self._run_queries(spark, drop_op=False)
        v = self.dataset.vocab
        strategy = self.strategy
        if v.operation_type_column in result.columns and isinstance(
            strategy, MergeStrategyAppend
        ):
            strategy = _PassthroughOps(v)
        return self._commit_changelog(spark, result, plan, system_time, strategy)


class AggregatingTransformExecutor(TransformExecutor):
    """Changelog-in → changelog-out incremental GROUP BY (the
    retraction-aware aggregating transform the streaming engines in the
    reference provide; golden behavior mirrored from
    test_engine_transform.rs:651-738 where -R/-C/+C on the input must
    update downstream aggregates, not just flow through).

    The declared query aggregates the CURRENT STATE of its single input
    (``GROUP BY`` exactly ``group_keys``). Each iteration:

    1. read the input's new changelog interval; the AFFECTED group keys
       are the distinct ``group_keys`` values over the batch — every op
       kind contributes (a correction that moves a row between groups
       carries the old group on its -C row and the new group on its +C
       row, a retraction carries the retracted row's group);
    2. register the input alias as its projected current state
       SEMI-JOINED to the affected keys, so the user query re-aggregates
       only changed groups — per-batch cost tracks touched keys, not
       history. At scale the affected-key set is small relative to the
       corpus and broadcasts;
    3. snapshot-diff the fresh per-key aggregates against the
       derivative's previous rows for those same keys (reusing the
       single-pass CDC diff of MergeStrategySnapshot on both-sides-
       restricted frames), emitting +A for new groups, -C/+C for changed
       aggregates, and -R for groups whose last row disappeared.
    """

    def __init__(
        self,
        dataset: Dataset,
        group_keys: list[str],
        input_primary_key: list[str] | None = None,
        strategy: MergeStrategy | None = None,
    ):
        super().__init__(dataset, strategy)
        if len(self.inputs) != 1:
            raise TransformError(
                "aggregating transform supports exactly one input"
            )
        if not group_keys:
            raise TransformError("aggregating transform requires group_keys")
        self.group_keys = group_keys
        # PK used to project the input changelog into current state;
        # defaults to the group keys (true when input rows ARE the
        # grouped entities)
        self.input_primary_key = input_primary_key or group_keys

    def execute(
        self,
        spark: SparkSession,
        system_time: datetime | None = None,
    ) -> dict[str, Any] | None:
        from kamu_cli_spark.operators.merge import MergeStrategySnapshot

        plan = self.elaborate(spark)
        if plan is None:
            return None
        system_time = system_time or datetime.now(timezone.utc)
        v = self.dataset.vocab

        ((alias, iv),) = plan["inputs"].items()
        src = Dataset(self.inputs[alias])
        batch = src.read_between(spark, iv["prev_offset"], iv["new_offset"])
        if batch is None:
            return None
        affected = batch.select(*self.group_keys).distinct()

        # full input state as of new_offset, re-aggregated only for
        # affected groups. elaborate() always sets new_offset to the
        # input's current head, so refresh_state serves the per-key
        # checkpoint (the reference's prev_checkpoint_path contract):
        # fresh → zero extra work; stale → folds only the delta
        # interval; full-history projection happens at most once per
        # key per history rewrite, never per pull.
        state = src.refresh_state(
            spark, self.input_primary_key, iv["new_offset"]
        ).filter(
            F.col(src.vocab.operation_type_column) != F.lit(int(Op.RETRACT))
        )
        state.join(affected, on=self.group_keys, how="left_semi").createOrReplaceTempView(
            alias
        )

        result = self._run_queries(spark, drop_op=True)
        missing = [k for k in self.group_keys if k not in result.columns]
        if missing:
            raise TransformError(
                f"aggregation output must carry group keys; missing {missing}"
            )

        # previous derivative rows for the SAME affected keys; both diff
        # sides are key-restricted, so unaffected groups are untouched
        prev = self.dataset.read(spark)
        if prev is not None:
            prev = prev.join(affected, on=self.group_keys, how="left_semi")
        events = MergeStrategySnapshot(self.group_keys, vocab=v).merge(prev, result)
        return self._commit_changelog(
            spark, events, plan, system_time, _PassthroughOps(v)
        )


class StatefulTransformExecutor(TransformExecutor):
    """Materialized-view-style transform: re-evaluate the declared query
    over the CURRENT STATE of every input each pull, and commit the
    snapshot diff of the full result keyed on ``output_primary_key`` —
    +A for new output rows, -C/+C for changed ones, -R for rows that
    left the view. This is how the reference's streaming engines
    maintain non-aggregating stateful queries like the leaderboard
    example's global top-N (examples/leaderboard/leaderboard.yaml:
    ``row_number() over (order by score desc) <= 2`` on RisingWave,
    which emits exactly these retractions as the ranking shifts).

    Suited to queries whose OUTPUT is small (top-N, summary views):
    state projection is incremental via the writer-maintained
    materialized state when available, and the snapshot diff cost
    tracks |output|, not |input history|. For per-key aggregations
    prefer :class:`AggregatingTransformExecutor`, which restricts
    re-evaluation to affected groups.
    """

    def __init__(
        self,
        dataset: Dataset,
        output_primary_key: list[str],
        input_primary_keys: dict[str, list[str]] | None = None,
        strategy: MergeStrategy | None = None,
    ):
        super().__init__(dataset, strategy)
        if not output_primary_key:
            raise TransformError("stateful transform requires output_primary_key")
        self.output_primary_key = output_primary_key
        # per input alias: PK for projecting its changelog to current
        # state; aliases omitted are treated as append-only ledgers
        # (their state IS the changelog)
        self.input_primary_keys = input_primary_keys or {}

    def execute(
        self,
        spark: SparkSession,
        system_time: datetime | None = None,
    ) -> dict[str, Any] | None:
        from kamu_cli_spark.operators.merge import MergeStrategySnapshot

        plan = self.elaborate(spark)
        if plan is None:
            return None
        system_time = system_time or datetime.now(timezone.utc)
        v = self.dataset.vocab

        for alias, iv in plan["inputs"].items():
            src = Dataset(self.inputs[alias])
            pk = self.input_primary_keys.get(alias)
            if pk:
                mat = src.refresh_state(spark, pk, iv["new_offset"])
                if mat is None:
                    raise TransformError(f"input {alias} has no data")
                state = mat.filter(
                    F.col(src.vocab.operation_type_column)
                    != F.lit(int(Op.RETRACT))
                )
            else:
                state = src.read_between(spark, None, iv["new_offset"])
                if state is None:
                    raise TransformError(f"input {alias} has no data")
                if alias in self.temporal_tables:
                    # same rule as TransformExecutor.execute: a declared
                    # temporal table exposes VERSIONS, not the raw
                    # changelog (corrections supersede, retractions
                    # tombstone)
                    from kamu_cli_spark.operators.merge import (
                        project_temporal_versions,
                    )

                    state = project_temporal_versions(
                        state, self.temporal_tables[alias], vocab=src.vocab
                    )
            state.createOrReplaceTempView(alias)

        result = self._run_queries(spark, drop_op=True)
        missing = [k for k in self.output_primary_key if k not in result.columns]
        if missing:
            raise TransformError(
                f"stateful output must carry its primary key; missing {missing}"
            )

        prev = self.dataset.read(spark)
        events = MergeStrategySnapshot(self.output_primary_key, vocab=v).merge(
            prev, result
        )
        return self._commit_changelog(
            spark, events, plan, system_time, _PassthroughOps(v)
        )


def make_transform_executor(dataset: Dataset) -> TransformExecutor:
    """Build the executor the SetTransform event declares.

    ``executor: {kind: stateful, output_primary_key: [...],
    input_primary_keys: {alias: [...]}}`` → materialized-view
    maintenance; ``{kind: aggregating, group_keys: [...],
    input_primary_key: [...]}`` → retraction-aware incremental GROUP
    BY; absent → the plain interval executor. This is the dispatch
    `kamu pull` uses, so manifests choose their maintenance semantics
    the way the reference's engine selection does
    (query_service_impl.rs:604-627 picks flink/risingwave for the
    stateful shapes)."""
    b = dataset.chain.last_event("SetTransform")
    decl = (b.event.get("executor") or {}) if b else {}
    kind = decl.get("kind")
    if kind == "stateful":
        return StatefulTransformExecutor(
            dataset,
            output_primary_key=decl["output_primary_key"],
            input_primary_keys=decl.get("input_primary_keys"),
        )
    if kind == "aggregating":
        return AggregatingTransformExecutor(
            dataset,
            group_keys=decl["group_keys"],
            input_primary_key=decl.get("input_primary_key"),
        )
    return TransformExecutor(dataset)
