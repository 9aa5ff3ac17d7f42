"""CDC merge strategies — the engine's core relational operators.

Each strategy takes ``(prev: DataFrame | None, new: DataFrame)`` and
returns the changelog events to append, plus a ``sort_order()`` used for
deterministic offset assignment. Semantics follow the ODF merge
strategies (reference: `src/infra/ingest-datafusion/src/merge_strategies/`
— append.rs, ledger.rs, snapshot.rs:146-215 SQL spec,
upsert_stream.rs:209-349 SQL spec, changelog_stream.rs;
`src/odf/data-utils/src/data/changelog.rs:62-96` projection), but the
implementations are Spark-first:

- **changelog→state projection** uses a single hash-aggregate
  (``max_by(struct(...), offset)``) instead of a sort-based window
  function — one shuffle with map-side partial aggregation, no per-key
  sort. At 100 TB this is the difference between a partial-agg shuffle
  and a full sort of every partition.
- **snapshot / upsert diff** computes its join ONCE and emits the
  1-or-2 output events per changed row via ``explode(array(structs))``
  — the reference's DataFusion plan evaluates the full join twice
  (snapshot.rs:302-304 TODO); we fix that perf debt by construction.
- joins shuffle on the primary key; with AQE enabled skewed PKs are
  split at runtime, and small `new` batches against large `prev` states
  can broadcast (Spark picks this via AQE size stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kamu_cli_spark.operators.util import sql_ident, sql_str
from kamu_cli_spark.vocab import DEFAULT_VOCAB, DatasetVocabulary, OperationType as Op


class MergeError(Exception):
    pass


def _require_columns(df: DataFrame, cols: list[str], what: str) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise MergeError(f"{what}: missing column(s) {missing}; have {df.columns}")


def project_changelog_keep_retractions(
    ledger: DataFrame,
    primary_key: list[str],
    vocab: DatasetVocabulary = DEFAULT_VOCAB,
) -> DataFrame:
    """Latest record per primary key INCLUDING retracted keys (no op
    filter) — the canonical materialized-state representation: applying
    ``op != -R`` afterwards yields the live state, while the full row
    set preserves every PK ever seen (what ledger-merge dedup needs).
    Idempotent: projecting a projection returns it unchanged."""
    _require_columns(ledger, primary_key, "project_changelog")
    _require_columns(
        ledger, [vocab.offset_column, vocab.operation_type_column], "project_changelog"
    )
    q, lq = sql_ident, sql_str

    other = [c for c in ledger.columns if c not in primary_key]
    # string-SQL build (see _cdc_diff): the Column-object form costs a
    # py4j round trip per call on wide schemas
    payload = "named_struct(" + ", ".join(f"{lq(c)}, {q(c)}" for c in other) + ")"
    return (
        ledger.groupBy(*[F.col(c) for c in primary_key])
        .agg(
            F.expr(f"max_by({payload}, {q(vocab.offset_column)})").alias("__latest")
        )
        .select(*primary_key, "__latest.*")
        .select(*ledger.columns)
    )


def project_changelog(
    ledger: DataFrame,
    primary_key: list[str],
    vocab: DatasetVocabulary = DEFAULT_VOCAB,
) -> DataFrame:
    """Project a CDC changelog into its current-state snapshot.

    Keeps, per primary key, the record with the highest ``offset``, then
    drops retracted keys (``op == -R``). Equivalent to the reference's
    ``row_number() over (partition by pk order by offset desc) = 1 and
    op != '-R'`` (changelog.rs:62-96) but implemented as
    ``max_by(struct(cols), offset)`` — a hash aggregation with map-side
    combine instead of a sort-based window, so the shuffle moves one row
    per key per map task rather than the whole ledger.

    Output preserves the input column set and order (including
    ``offset``/``op``, like the reference's projection).
    """
    return project_changelog_keep_retractions(ledger, primary_key, vocab).filter(
        F.col(vocab.operation_type_column) != F.lit(Op.RETRACT)
    )


def project_temporal_versions(
    hist: DataFrame,
    keys: list[str],
    vocab: DatasetVocabulary = DEFAULT_VOCAB,
    time_col: str | None = None,
) -> DataFrame:
    """Temporal-table projection of a changelog — the versioned-lookup
    view an as-of join should see (Flink maintains exactly this state
    for ``FOR SYSTEM_TIME AS OF``; round-6 ADVICE: joining the RAW
    changelog leaks dead versions). Per (keys, event_time) the
    max-offset row wins, so a correction supersedes the -C partner it
    corrects instead of tying with it; surviving -C rows (possible only
    when a correction pair straddles event times) are dropped; a -R
    survivor is kept as a TOMBSTONE version — its value columns nulled
    — so lookups before the retraction still match the prior live
    version and lookups after it see NULL rather than the retracted
    values. A no-op for append-only histories. Cost: one window
    shuffle on (keys, time) over the LOOKUP side only — the dimension
    table in every as-of pattern, orders of magnitude smaller than the
    fact stream it enriches."""
    t = time_col or vocab.event_time_column
    off, op, st = (
        vocab.offset_column,
        vocab.operation_type_column,
        vocab.system_time_column,
    )
    if off not in hist.columns or op not in hist.columns:
        return hist  # not a changelog (already projected/plain table)
    keep = set(keys) | {t, off, op, st}
    w = Window.partitionBy(*keys, t).orderBy(F.col(off).desc())
    is_retract = F.col(op) == F.lit(int(Op.RETRACT))
    return (
        hist.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(F.col(op) != F.lit(int(Op.CORRECT_FROM)))
        .select(
            *[
                (
                    F.when(is_retract, F.lit(None)).otherwise(F.col(c)).alias(c)
                    if c not in keep
                    else F.col(c)
                )
                for c in hist.columns
            ]
        )
    )


def _changed_sql(cmp_cols: list[str], event_time_col: str) -> list[str]:
    """Per compare column, the SQL `__o_c IS DISTINCT FROM __n_c` over
    the diff's prefixed join sides. A null ``event_time`` on the new
    side alone does not make a row "changed" (snapshot.rs:95-142):
    snapshots typically arrive without event times and get stamped
    later."""
    q = sql_ident
    return [
        (
            f"({q('__n_' + c)} IS NOT NULL AND NOT "
            f"({q('__o_' + c)} <=> {q('__n_' + c)}))"
            if c == event_time_col
            else f"(NOT ({q('__o_' + c)} <=> {q('__n_' + c)}))"
        )
        for c in cmp_cols
    ]


class MergeStrategy:
    """Base: merge(prev, new) -> changelog events; sort_order() for offsets."""

    # True for strategies whose INPUT legitimately carries the op column
    # (changelog/upsert streams); others stamp their own and must reject
    # clashing input columns.
    consumes_op_column = False

    def __init__(self, vocab: DatasetVocabulary = DEFAULT_VOCAB):
        self.vocab = vocab

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        raise NotImplementedError

    def sort_order(self) -> list[Column]:
        raise NotImplementedError


class MergeStrategyAppend(MergeStrategy):
    """Stamp every input row as an append (+A). Reference: append.rs:31-52."""

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        op = self.vocab.operation_type_column
        return new.select(
            F.lit(Op.APPEND).cast("int").alias(op), *new.columns
        )

    def sort_order(self) -> list[Column]:
        return [F.col(self.vocab.event_time_column).asc_nulls_first()]


class MergeStrategyLedger(MergeStrategy):
    """Anti-join dedup of overlapping ledger polls. Reference: ledger.rs:46-86.

    Rows whose primary key already exists in `prev` are dropped; the rest
    are stamped +A. The anti-join shuffles both sides on the PK; when the
    new poll is small relative to state, AQE converts it to a broadcast.
    """

    def __init__(self, primary_key: list[str], vocab: DatasetVocabulary = DEFAULT_VOCAB):
        super().__init__(vocab)
        if not primary_key:
            raise MergeError("ledger merge requires a non-empty primary key")
        self.primary_key = primary_key

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        _require_columns(new, self.primary_key, "ledger merge")
        op = self.vocab.operation_type_column
        if prev is not None:
            new = new.join(
                prev.select(*self.primary_key), on=self.primary_key, how="left_anti"
            )
        return new.select(F.lit(Op.APPEND).cast("int").alias(op), *new.columns)

    def sort_order(self) -> list[Column]:
        return [F.col(self.vocab.event_time_column).asc_nulls_first()]


class MergeStrategySnapshot(MergeStrategy):
    """Snapshot CDC: diff the new full-state poll against the projected
    previous state, emitting +A / -R / -C,+C changelog events.

    Reference semantics: snapshot.rs:146-215 (SQL spec), :221-323 (diff),
    :326-383 (merge). Spark-first single-pass plan:

        state = project_changelog(prev)            -- hash agg, 1 shuffle
        cdc   = state FULL OUTER JOIN new ON pk    -- 1 shuffle (or AQE bcast)
                WHERE any compare col IS DISTINCT FROM
        out   = explode( CASE both-sides-present
                         THEN [(-C old values), (classified new values)]
                         ELSE [classified row] )

    The reference's plan computes the full join twice (UNION ALL of two
    projections; snapshot.rs:302-304 TODO) — the explode form reads it
    once.
    """

    def __init__(
        self,
        primary_key: list[str],
        compare_columns: list[str] | None = None,
        vocab: DatasetVocabulary = DEFAULT_VOCAB,
    ):
        super().__init__(vocab)
        if not primary_key:
            raise MergeError("snapshot merge requires a non-empty primary key")
        if compare_columns is not None and not compare_columns:
            raise MergeError("compare_columns, when given, must be non-empty")
        self.primary_key = primary_key
        self.compare_columns = compare_columns

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        _require_columns(new, self.primary_key, "snapshot merge")
        op = self.vocab.operation_type_column
        if prev is None:
            return new.select(F.lit(Op.APPEND).cast("int").alias(op), *new.columns)

        state = project_changelog(prev, self.primary_key, self.vocab).drop(
            self.vocab.offset_column, self.vocab.operation_type_column
        )
        return self._cdc_diff(state, new)

    def _cdc_diff(self, old: DataFrame, new: DataFrame) -> DataFrame:
        op = self.vocab.operation_type_column
        out_cols = list(new.columns)  # output schema = op + new's columns
        cmp_cols = self.compare_columns or [
            c for c in out_cols if c not in self.primary_key
        ]

        # The whole diff is built from STRING SQL expressions, not
        # Column-object chains: each Python Column operation is a py4j
        # socket round trip, and the expression-object form cost ~1,400
        # round trips ≈ 0.4 s of driver time per plan build (profiled
        # round 6) — string expressions hand Catalyst the same tree in
        # a handful of calls.
        q, lq = sql_ident, sql_str

        # Explicit per-side presence markers: the join matches with
        # eqNullSafe, so a matched row may legitimately have NULL in
        # every PK column — `pk IS NOT NULL` would misclassify it
        # (stale +A on the old side / dropped retraction). The literal
        # True marker is NULL if and only if the side is absent.
        o = old.selectExpr(
            "true AS `__o_present`",
            *[f"{q(c)} AS {q('__o_' + c)}" for c in old.columns],
        )
        n = new.selectExpr(
            "true AS `__n_present`",
            *[f"{q(c)} AS {q('__n_' + c)}" for c in new.columns],
        )
        # PK equi-join with null-safe equality keeps the join hashable
        # (shuffled hash / broadcast capable) even with nullable PKs.
        # Hint shuffled-hash: a full-outer SMJ sorts BOTH sides; the
        # hash variant builds one side and streams the other (~40%
        # faster at the 1M-row bench). Spark falls back to SMJ if the
        # build side can't hash (e.g. memory pressure heuristics).
        cond = F.expr(
            " AND ".join(
                f"{q('__o_' + c)} <=> {q('__n_' + c)}" for c in self.primary_key
            )
        )
        changed_parts = _changed_sql(cmp_cols, self.vocab.event_time_column)
        # One-sided rows are appends/retractions BY PRESENCE — they
        # must survive regardless of the compare columns. The old
        # filter relied on `NOT (null <=> value)` from the absent side
        # to pass them, which silently dropped (a) every event when
        # the PK covers all columns (cmp_cols empty — set-semantics
        # tables like KMV sketches), and (b) appends whose compare
        # values are all NULL. Matched rows still require a genuine
        # value change.
        presence = "(`__o_present` IS NULL) OR (`__n_present` IS NULL)"
        changed = (
            f"{presence} OR " + " OR ".join(changed_parts)
            if changed_parts
            else presence
        )
        joined = o.join(n.hint("shuffle_hash"), on=cond, how="full_outer").filter(
            changed
        )

        # For retractions emit the old values; otherwise the new values.
        classified = (
            f"CAST(CASE WHEN `__o_present` IS NULL THEN {int(Op.APPEND)} "
            f"WHEN `__n_present` IS NULL THEN {int(Op.RETRACT)} "
            f"ELSE {int(Op.CORRECT_TO)} END AS INT)"
        )
        main_fields = ", ".join(
            f"{lq(c)}, IF(`__n_present` IS NULL, {q('__o_' + c)}, {q('__n_' + c)})"
            for c in out_cols
        )
        from_fields = ", ".join(f"{lq(c)}, {q('__o_' + c)}" for c in out_cols)
        branch_main = f"named_struct({lq(op)}, {classified}, {main_fields})"
        branch_from = (
            f"named_struct({lq(op)}, CAST({int(Op.CORRECT_FROM)} AS INT), "
            f"{from_fields})"
        )
        events = (
            f"explode(IF(`__o_present` IS NOT NULL AND `__n_present` IS NOT NULL, "
            f"array({branch_from}, {branch_main}), array({branch_main}))) AS `__e`"
        )
        return joined.selectExpr(events).select("__e.*")

    def sort_order(self) -> list[Column]:
        # Order corrections deterministically: -C (2) precedes +C (3)
        # within each key (snapshot.rs sort_order).
        return [F.col(c).asc_nulls_first() for c in self.primary_key] + [
            F.col(self.vocab.operation_type_column).asc_nulls_first()
        ]


class MergeStrategyChangelogStream(MergeStrategy):
    """Input already carries a valid `op` column — validate and pass through.

    Reference: changelog_stream.rs:36-74 (RFC-015).
    """

    consumes_op_column = True

    def __init__(self, primary_key: list[str], vocab: DatasetVocabulary = DEFAULT_VOCAB):
        super().__init__(vocab)
        self.primary_key = primary_key

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        _require_columns(
            new,
            self.primary_key + [self.vocab.operation_type_column],
            "changelog_stream merge",
        )
        op = self.vocab.operation_type_column
        others = [c for c in new.columns if c != op]
        return new.select(F.col(op).cast("int").alias(op), *others)

    def sort_order(self) -> list[Column]:
        return [F.col(c).asc_nulls_first() for c in self.primary_key] + [
            F.col(self.vocab.operation_type_column).asc_nulls_first()
        ]


class MergeStrategyUpsertStream(MergeStrategy):
    consumes_op_column = True
    """Upserts + retractions without old values → full changelog stream.

    Reference: upsert_stream.rs:209-349 (SQL spec). Steps:

    1. intra-batch dedup: keep the LAST occurrence per PK in input order;
    2. LEFT JOIN the deduped batch against `latest_by_pk(prev)`;
    3. drop no-op upserts (all compare cols equal) and retractions of
       unseen keys;
    4. classify: +A (no prior state), -R (retraction, emitting the OLD
       values), or the -C/+C correction pair.

    Single-pass explode plan as in :class:`MergeStrategySnapshot`.
    """

    def __init__(
        self,
        primary_key: list[str],
        vocab: DatasetVocabulary = DEFAULT_VOCAB,
        order_column: str | None = None,
    ):
        """`order_column`: explicit intra-batch ordering column. When
        None, input order is pinned with monotonically_increasing_id
        (file order) — pass a real column for fully deterministic
        semantics across engines/replays."""
        super().__init__(vocab)
        if not primary_key:
            raise MergeError("upsert_stream merge requires a non-empty primary key")
        self.primary_key = primary_key
        self.order_column = order_column

    def merge(self, prev: DataFrame | None, new: DataFrame) -> DataFrame:
        op = self.vocab.operation_type_column
        _require_columns(new, self.primary_key, "upsert_stream merge")
        if op not in new.columns:
            new = new.select(F.lit(Op.APPEND).cast("int").alias(op), *new.columns)
        else:
            new = new.withColumn(op, F.col(op).cast("int"))

        new = self._without_intermediate_updates(new)

        if prev is None:
            # No state: keep appends only (retractions of unseen keys are
            # dropped) — first batch of a stream.
            return new.filter(F.col(op) != F.lit(Op.RETRACT))

        latest = project_changelog(prev, self.primary_key, self.vocab).drop(
            self.vocab.offset_column, op
        )
        return self._upsert_to_changelog(latest, new)

    def _without_intermediate_updates(self, new: DataFrame) -> DataFrame:
        """Keep only the last occurrence of each PK within the batch.

        The reference ranks by a row_number over input order
        (upsert_stream.rs:84-114). Input order in Spark is
        partition-local, so we pin it with a monotonically increasing id
        BEFORE any shuffle — ids grow with (partition, row) order, which
        reproduces file/input order for deterministic sources.
        """
        op = self.vocab.operation_type_column
        cols = new.columns

        q, lq = sql_ident, sql_str

        seq = (
            F.col(self.order_column)
            if self.order_column
            else F.monotonically_increasing_id()
        )
        with_seq = new.select(*cols, seq.alias("__seq"))
        other = [c for c in cols if c not in self.primary_key]
        payload = (
            "named_struct(" + ", ".join(f"{lq(c)}, {q(c)}" for c in other) + ")"
        )
        return (
            with_seq.groupBy(*self.primary_key)
            .agg(F.expr(f"max_by({payload}, `__seq`)").alias("__latest"))
            .select(*self.primary_key, "__latest.*")
            .select(*cols)
        )

    def _upsert_to_changelog(self, old: DataFrame, new: DataFrame) -> DataFrame:
        op = self.vocab.operation_type_column
        data_cols = [c for c in new.columns if c != op]  # output = op + data cols
        cmp_cols = [c for c in data_cols if c not in self.primary_key]

        # String SQL expressions, not Column chains — same py4j
        # round-trip rationale as MergeStrategySnapshot._cdc_diff.
        q, lq = sql_ident, sql_str

        # Presence marker instead of `pk IS NOT NULL` — see _cdc_diff.
        o = old.selectExpr(
            "true AS `__o_present`",
            *[f"{q(c)} AS {q('__o_' + c)}" for c in old.columns],
        )
        n = new.selectExpr(*[f"{q(c)} AS {q('__n_' + c)}" for c in new.columns])
        joined = n.join(
            o,
            on=F.expr(
                " AND ".join(
                    f"{q('__n_' + c)} <=> {q('__o_' + c)}"
                    for c in self.primary_key
                )
            ),
            how="left",
        )

        old_present = "`__o_present` IS NOT NULL"
        is_retract = f"{q('__n_' + op)} = {int(Op.RETRACT)}"
        changed_parts = _changed_sql(cmp_cols, self.vocab.event_time_column)
        changed = " OR ".join(changed_parts) if changed_parts else "false"
        joined = joined.filter(
            f"(({is_retract}) AND {old_present})"
            f" OR (NOT ({is_retract}) AND ({changed}))"
        )

        classified = (
            f"CAST(CASE WHEN {is_retract} THEN {int(Op.RETRACT)} "
            f"WHEN NOT ({old_present}) THEN {int(Op.APPEND)} "
            f"ELSE {int(Op.CORRECT_TO)} END AS INT)"
        )
        main_fields = ", ".join(
            f"{lq(c)}, IF({is_retract}, {q('__o_' + c)}, {q('__n_' + c)})"
            for c in data_cols
        )
        from_fields = ", ".join(f"{lq(c)}, {q('__o_' + c)}" for c in data_cols)
        branch_main = f"named_struct({lq(op)}, {classified}, {main_fields})"
        branch_from = (
            f"named_struct({lq(op)}, CAST({int(Op.CORRECT_FROM)} AS INT), "
            f"{from_fields})"
        )
        events = (
            f"explode(IF(NOT ({is_retract}) AND {old_present}, "
            f"array({branch_from}, {branch_main}), array({branch_main}))) AS `__e`"
        )
        return joined.selectExpr(events).select("__e.*")

    def sort_order(self) -> list[Column]:
        return [F.col(c).asc_nulls_first() for c in self.primary_key] + [
            F.col(self.vocab.operation_type_column).asc_nulls_first()
        ]


def make_merge_strategy(
    kind: str,
    primary_key: list[str] | None = None,
    compare_columns: list[str] | None = None,
    vocab: DatasetVocabulary = DEFAULT_VOCAB,
) -> MergeStrategy:
    """Factory mirroring the reference's strategy dispatch (writer.rs:906-929)."""
    kind = kind.lower()
    if kind == "append":
        return MergeStrategyAppend(vocab)
    if kind == "ledger":
        return MergeStrategyLedger(primary_key or [], vocab)
    if kind == "snapshot":
        return MergeStrategySnapshot(primary_key or [], compare_columns, vocab)
    if kind in ("changelogstream", "changelog_stream", "changelog"):
        return MergeStrategyChangelogStream(primary_key or [], vocab)
    if kind in ("upsertstream", "upsert_stream", "upsert"):
        return MergeStrategyUpsertStream(primary_key or [], vocab)
    raise MergeError(f"unknown merge strategy: {kind}")
