"""Temporal (as-of) join — `FOR SYSTEM_TIME AS OF t` semantics.

For every left row at time ``t``, attach the latest right-side row for
the same key with ``right_time <= t`` (backward direction). This is the
reference's temporal-table join (dtos_generated.rs:1485-1490
TemporalTable; currency_conversion example), which Spark SQL lacks
natively.

Spark-first implementation — the **union + running last_value**
technique, not a range join:

1. project both sides to a common layout (left payload columns ride
   along as nulls on right rows and vice versa), tag right=0 / left=1;
2. union; ONE shuffle partitioned by key, sorted by (time, tag);
3. running ``last(right_payload, ignorenulls=True)`` carries the most
   recent right values forward onto each left row;
4. keep left rows, unpack payloads.

Cost: a single sort-shuffle over |L| + |R| — same order as a sort-merge
join, with no time-range predicate explosion (a naive range join is
O(|L| × matching-window)). Skewed keys are split by AQE. A pandas
`merge_asof` via applyInPandas would give the same result but forces
Arrow transfer; the union trick stays in the JVM under whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    right_values: list[str] | None = None,
    suffix: str = "",
    strict: bool = False,
) -> DataFrame:
    """Backward as-of join.

    Parameters
    ----------
    on: equi-join key columns (present on both sides)
    left_time / right_time: event-time columns
    right_values: right columns to attach (default: all non-key,
        non-time columns); attached with `suffix` appended on name clash
    strict: if True use ``right_time < left_time`` (exclusive);
        default inclusive (``<=``)
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    from kamu_cli_spark.operators.util import sql_ident as q
    from kamu_cli_spark.operators.util import sql_str as lq

    if right_values is None:
        right_values = [c for c in right.columns if c not in on and c != right_time]
    left_extra = [c for c in left.columns if c not in on and c != left_time]

    # right rows sort before left rows at identical time for inclusive
    # semantics, after them for strict
    right_tag, left_tag = (0, 1) if not strict else (1, 0)

    # Built from STRING SQL expressions (the round-6 CDC trick,
    # operators/merge.py): Column-object chains over wide payloads cost
    # one py4j socket round trip per call (~1,400 for this builder,
    # profiled round 7), and the two `.schema` probes on derived frames
    # each forced a full analysis pass. The payload struct types come
    # from the INPUT schemas instead — one cached property read. The
    # null payload is cast via a StructType OBJECT, not DDL text:
    # simpleString() emits unquoted field names, which breaks on
    # non-identifier column names (spaces etc.) that are legal here.
    ltypes = {f.name: f.dataType for f in left.schema.fields}
    rtypes = {f.name: f.dataType for f in right.schema.fields}

    def null_payload(names: list[str], types: dict):
        fields = (
            [StructField(n, types[n]) for n in names]
            if names  # payload never unpacked when empty; cast needs a type
            else [StructField("__dummy", IntegerType())]
        )
        return F.lit(None).cast(StructType(fields))

    def named_struct(names: list[str]) -> str:
        if not names:
            return "named_struct('__dummy', 1)"
        return (
            "named_struct("
            + ", ".join(f"{lq(n)}, {q(n)}" for n in names)
            + ")"
        )

    l_sel = left.selectExpr(
        *[q(c) for c in on],
        f"{q(left_time)} AS `__t`",
        f"{left_tag} AS `__tag`",
        f"{named_struct(left_extra)} AS `__lpayload`",
    ).withColumn("__rpayload", null_payload(right_values, rtypes))
    r_sel = right.selectExpr(
        *[q(c) for c in on],
        f"{q(right_time)} AS `__t`",
        f"{right_tag} AS `__tag`",
        f"{named_struct(right_values)} AS `__rpayload`",
    ).withColumn("__lpayload", null_payload(left_extra, ltypes))

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc_nulls_first(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        l_sel.unionByName(r_sel)
        .withColumn("__carried", F.last("__rpayload", ignorenulls=True).over(w))
        .filter(f"`__tag` = {left_tag}")
    )

    taken = set(on) | {left_time} | set(left_extra)
    out = carried.selectExpr(
        *[q(c) for c in on],
        f"`__t` AS {q(left_time)}",
        *[f"`__lpayload`.{q(c)} AS {q(c)}" for c in left_extra],
        *[
            f"`__carried`.{q(c)} AS {q(c + suffix if c in taken else c)}"
            for c in right_values
        ],
    )
    return out


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    right_values: list[str] | None = None,
    suffix: str = "",
    strict: bool = False,
    prune_right_by_left_keys: bool = False,
    max_right_rows: int = 2_000_000,
) -> DataFrame:
    """Backward as-of join for a BOUNDED right side (a dimension-like
    table: currency rates, config versions, slowly-changing lookup) —
    same semantics and output layout as :func:`asof_join`.

    The union+window plan partitions by the join key, so a
    low-cardinality key (15 currencies) caps parallelism at
    |keys| tasks no matter how many executors exist — the classic
    skew wall. When the right side is driver-bounded, the scalable
    plan is the opposite shape: collect the right side ONCE (one Arrow
    transfer of a dim-sized artifact, the same bounded-artifact
    contract as bm25_corpus_stats), ship per-key time-sorted arrays in
    the kernel closure, and resolve every left row with a vectorized
    ``np.searchsorted`` inside ONE stateless mapInPandas pass — zero
    shuffle, parallelism = scan partitions, and stream-legal (the left
    side may be a streaming DataFrame; the right side is the fitted
    artifact).

    Tie behavior matches :func:`asof_join`: among right rows with an
    identical (key, time) the last one in time-sorted order wins.

    The bounded-right contract is the caller's responsibility and is
    GUARDED: a cheap ``limit(max_right_rows + 1).count()`` probe
    raises before any unbounded driver collect can start. When the
    right side is only bounded AFTER restricting to the keys the left
    actually uses (e.g. a rate table keyed by every entity but joined
    on a 15-value bucket), pass ``prune_right_by_left_keys=True``: one
    map-side-combined distinct over the left's keys, broadcast into a
    semi join, shrinks the right side before the probe. (Not
    stream-legal on the left when enabled — the prune aggregates the
    left; leave it off for streaming lefts.)
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from kamu_cli_spark.operators.util import spread, sql_ident as q

    if right_values is None:
        right_values = [
            c for c in right.columns if c not in on and c != right_time
        ]
    left_extra = [c for c in left.columns if c not in on and c != left_time]

    if prune_right_by_left_keys:
        keys = F.broadcast(left.select(*on).distinct())
        right = right.join(keys, on, "left_semi")
    # pandas conversion folds SQL NULL and real float NaN into the
    # same NaN, but the union+window path orders them OPPOSITELY
    # (null first, NaN greater than every value) — so genuine NaN
    # event times are detected JVM-side (where isnan still sees the
    # difference) and rejected rather than silently diverging
    # between the two physically-equivalent paths (ADVICE r13).
    # Same trap for integral time columns: a null forces the int64 ->
    # float64 round-trip, which is lossy past 2^53 — checked
    # post-collect on the bounded frame and in-kernel per batch.
    t_sql = {f.name: f.dataType.simpleString() for f in right.schema.fields}[
        right_time
    ]
    lt_sql = {f.name: f.dataType.simpleString() for f in left.schema.fields}[
        left_time
    ]
    FLOATS, INTS = ("float", "double"), ("tinyint", "smallint", "int", "bigint")
    probe_cols = [*on, right_time, *right_values]
    if t_sql in FLOATS:
        probe_cols.append(F.isnan(F.col(right_time)).alias("__tnan"))
    # guard and collect in ONE job: pull at most max_right_rows + 1
    # rows — the limit stops the transfer before an unbounded right
    # side can reach the driver, and the sentinel row proves the
    # overflow without a separate count() evaluation of the pipeline
    rp = (
        right.select(*probe_cols)
        .limit(max_right_rows + 1)
        .toPandas()
    )
    if len(rp) > max_right_rows:
        raise ValueError(
            f"asof_join_broadcast: right side exceeds max_right_rows="
            f"{max_right_rows} — it is not a bounded dimension; use "
            f"asof_join (union+window) or prune_right_by_left_keys=True"
        )
    if "__tnan" in rp.columns:
        if rp["__tnan"].fillna(False).astype(bool).any():
            raise ValueError(
                f"asof_join_broadcast: right time column {right_time!r} "
                "contains real NaN values (distinct from SQL NULL) — the "
                "kernel cannot order them consistently with the "
                "union+window path; filter or NULL them first"
            )
        rp = rp.drop(columns="__tnan")
    if t_sql in INTS:
        arr = rp[right_time].to_numpy()
        if arr.dtype.kind == "f":
            vals = arr[~np.isnan(arr)]
            if len(vals) and np.abs(vals).max() > 2.0**53:
                raise ValueError(
                    f"asof_join_broadcast: nullable integer time column "
                    f"{right_time!r} has magnitudes beyond 2^53 — the "
                    "null forces a lossy int64->float64 round-trip; "
                    "cast to timestamp or drop the nulls first"
                )
    # nulls FIRST to match the window path's asc_nulls_first ordering:
    # a null right_time acts as the earliest fallback row. The default
    # na_position='last' would leave the per-key times array unsorted
    # after _times64 maps NaT to int64 min, corrupting every
    # searchsorted lookup for that key.
    rp = rp.sort_values(right_time, kind="stable", na_position="first")
    def _times64(series: pd.Series) -> "np.ndarray":
        # datetime columns compare as int64 ns (NaT -> int64 min, i.e.
        # sorts first, matching asof_join's asc_nulls_first); float
        # NaN -> -inf for the same reason — safe because real NaN
        # values were rejected JVM-side above, so any NaN here IS a
        # SQL NULL; other numeric event times pass through as-is
        # (searchsorted only needs a total order shared by both sides)
        arr = series.to_numpy()
        if arr.dtype.kind == "M":
            return arr.astype("datetime64[ns]").astype("int64")
        if arr.dtype.kind == "f":
            return np.where(np.isnan(arr), -np.inf, arr)
        return arr

    def _tup(key) -> tuple:
        # pandas yields scalars or tuples depending on version/arity
        return key if isinstance(key, tuple) else (key,)

    # per-key: int64-ns time array (np.searchsorted-ready) + payload
    # column arrays in the same order
    lookup: dict = {}
    for key, g in rp.groupby(list(on), dropna=False, sort=False):
        lookup[_tup(key)] = (
            _times64(g[right_time]),
            {c: g[c].to_numpy() for c in right_values},
        )

    taken = set(on) | {left_time} | set(left_extra)
    out_names = (
        list(on)
        + [left_time]
        + left_extra
        + [(c + suffix) if c in taken else c for c in right_values]
    )
    ltypes = {f.name: f for f in left.schema.fields}
    rtypes = {f.name: f for f in right.schema.fields}
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        [ltypes[c] for c in on]
        + [ltypes[left_time]]
        + [ltypes[c] for c in left_extra]
        + [
            StructField(
                (c + suffix) if c in taken else c,
                rtypes[c].dataType,
                True,  # no-match rows carry null
            )
            for c in right_values
        ]
    )
    side = "left" if strict else "right"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # same NaN / 2^53 hazards as the right side, per batch
            # (the __lnan flag is computed JVM-side where NULL and
            # NaN are still distinguishable)
            if "__lnan" in pdf.columns:
                if pdf["__lnan"].fillna(False).astype(bool).any():
                    raise ValueError(
                        f"asof_join_broadcast: left time column "
                        f"{left_time!r} contains real NaN values "
                        "(distinct from SQL NULL); filter or NULL "
                        "them first"
                    )
            if lt_sql in INTS:
                la = pdf[left_time].to_numpy()
                if la.dtype.kind == "f":
                    lv = la[~np.isnan(la)]
                    if len(lv) and np.abs(lv).max() > 2.0**53:
                        raise ValueError(
                            f"asof_join_broadcast: nullable integer "
                            f"time column {left_time!r} has magnitudes "
                            "beyond 2^53 — lossy int64->float64 "
                            "round-trip"
                        )
            t64 = _times64(pdf[left_time])
            res = {c: np.empty(len(pdf), dtype=object) for c in right_values}
            for key, gidx in pdf.groupby(list(on), dropna=False).indices.items():
                hit = lookup.get(_tup(key))
                if hit is None:
                    for c in right_values:
                        res[c][gidx] = None
                    continue
                times, payload = hit
                pos = np.searchsorted(times, t64[gidx], side=side) - 1
                miss = pos < 0
                pos = np.where(miss, 0, pos)
                for c in right_values:
                    vals = payload[c][pos].astype(object)
                    vals[miss] = None
                    res[c][gidx] = vals
            out = pdf[list(on) + [left_time] + left_extra].copy()
            for c in right_values:
                out[(c + suffix) if c in taken else c] = res[c]
            out.columns = out_names
            yield out

    src_cols = [*on, left_time, *left_extra]
    if lt_sql in FLOATS:
        src_cols.append(F.isnan(F.col(left_time)).alias("__lnan"))
    src = left.select(*src_cols)
    return spread(src).mapInPandas(kernel, out_schema)


# below this size the union+window plan's single sort-shuffle beats the
# broadcast kernel's job-count overhead (distinct-prune + bounded
# collect + Arrow pass ≈ 3 extra job launches: measured 0.8 s vs 1.9 s
# at sf0.1, inverted to 3.1 s vs 1.1 s at sf1)
_ADAPTIVE_LEFT_BYTES = 8 * 1024 * 1024


def asof_join_adaptive(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    right_values: list[str] | None = None,
    suffix: str = "",
    strict: bool = False,
    prune_right_by_left_keys: bool | None = None,
    max_right_rows: int = 2_000_000,
) -> DataFrame:
    """Cost-based as-of join: pick :func:`asof_join` (union + window,
    one sort-shuffle — wins while the data is small enough that job
    launches dominate) or :func:`asof_join_broadcast` (bounded-right
    searchsorted kernel — wins at scale, and is immune to the
    low-cardinality-key wall that caps the window plan at |keys|
    tasks). The choice reads Catalyst's logical size estimate of the
    LEFT side — the same tens-of-ms stats probe spread() uses — so it
    adapts per dataset like Catalyst's own join-strategy selection.
    Both paths are bit-identical (tests/test_asof_broadcast.py), so
    the choice is purely physical.

    ``prune_right_by_left_keys=None`` (the default) resolves to
    ``not left.isStreaming``: the prune aggregates the left side, so
    it is not stream-legal — a streaming left routes to the broadcast
    kernel WITHOUT the prune (the bounded-right guard still applies).
    Passing ``True`` explicitly with a streaming left raises rather
    than failing deep inside the kernel's collect."""
    if prune_right_by_left_keys is None:
        prune_right_by_left_keys = not left.isStreaming
    elif prune_right_by_left_keys and left.isStreaming:
        raise ValueError(
            "asof_join_adaptive: prune_right_by_left_keys aggregates "
            "the left side and is not stream-legal; leave it as None "
            "(auto) or False for a streaming left"
        )
    from kamu_cli_spark.operators.util import plan_bytes

    # streaming → kernel path; unknown stats → assume big
    size = None if left.isStreaming else plan_bytes(left)
    if size is None or size > _ADAPTIVE_LEFT_BYTES:
        return asof_join_broadcast(
            left, right, on, left_time, right_time, right_values,
            suffix, strict,
            prune_right_by_left_keys=prune_right_by_left_keys,
            max_right_rows=max_right_rows,
        )
    return asof_join(
        left, right, on, left_time, right_time, right_values, suffix, strict
    )
