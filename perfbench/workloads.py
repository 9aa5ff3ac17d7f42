"""The workloads: seeded set-up, a closed timed loop and output checks.

Each workload is a class with `setup(rep_dir)`, `loop(deadline)` and
`check()`. One client runs in a closed loop: the next operation starts
only after the previous one returned. Checks run after the timed window
against an independent computation in DuckDB over the generated inputs
and the Parquet files the engine committed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Workload sizes. They are part of the benchmark's definition: changing
# one changes what the benchmark measures.
STREAM_HISTORY = 100         # slices already in the root dataset (H)
STREAM_SLICE_ROWS = (200, 600)  # rows per history slice and per batch
OPERATOR_SF = 0.01

# Four of bench.py's headline queries (relational, as-of, merge and dedup
# families), then four of the ROADMAP profile targets, which hold most of
# the persist/checkpoint sites in operators/. More does not fit the
# benchmark's time budget next to the two lifecycle workloads.
OPERATOR_QUERIES = [
    "tpch_q3",
    "orders_events_asof_join",
    "customer_snapshot_cdc",
    "documents_dup_clusters",
    "embeddings_semantic_dedup",
    "embeddings_cross_neardup",
    "purchase_graph_pagerank",
    "documents_ngram_lm",
]


def median(xs: list[float]) -> float | None:
    """None when a failed run left no samples."""
    return statistics.median(xs) if xs else None


class Workload:
    """Shared plumbing: timed operations, samples and the check ledger."""

    name = ""
    # the loop runs past the deadline until this many operations are
    # timed: cycle times fall over a run while the JVM warms up, so a
    # median over a varying count of cycles would move with the count
    min_ops = 3

    def __init__(self, spark, seed: int, seconds: int, tracer):
        self.spark = spark
        self.seed = seed
        # inputs for more operations than a run can reach: no timed
        # operation takes under a second
        self.max_ops = seconds + self.min_ops
        self.tracer = tracer
        # set-up time spent on the benchmark's own work (input generation,
        # history files), which `setup_s` leaves out
        self.untimed_s = 0.0
        self.samples: dict[str, list[float]] = {}
        self.ops = 0
        self.failed_ops = 0
        self.checks = 0
        self.failed_checks: list[str] = []
        self.info: dict = {}
        self.checksums: dict[str, str] = {}

    # -- measurement ---------------------------------------------------

    @contextmanager
    def op(self, kind: str):
        """One timed client operation; also the tracer's op boundary."""
        self.ops += 1
        with self.tracer.span(f"op.{kind}", op=self.ops):
            t0 = time.perf_counter()
            try:
                yield
            except Exception:
                self.failed_ops += 1
                raise
            self.sample(kind, time.perf_counter() - t0)
            if self.tracer.enabled:
                with self.tracer.untimed():
                    n = self.spark.sparkContext._jsc.getPersistentRDDs().size()
                self.tracer.note("persisted", n)

    def note_catalyst(self, df) -> None:
        """Catalyst phase times of an executed query, on the open op span."""
        if not self.tracer.enabled:
            return
        qe = df._jdf.queryExecution()
        with self.tracer.untimed():
            # a query written to a sink runs under the write command's own
            # plan; planning `df` here gives its phases, outside the spans
            qe.executedPlan()
        phases = qe.tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            ph = phases.get(p)
            if ph.isDefined():
                self.tracer.note(f"catalyst.{p}_ms", ph.get().durationMs())

    @contextmanager
    def step(self, kind: str):
        """A timed step inside an operation (commit, pull, tail, ...)."""
        t0 = time.perf_counter()
        with self.tracer.span(f"step.{kind}"):
            yield
        self.sample(kind, time.perf_counter() - t0)

    @contextmanager
    def untimed(self):
        """Benchmark work inside `setup`, left out of `setup_s`."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def sample(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def expect(self, what: str, ok: bool) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(what)

    def cycle_s(self) -> float | None:
        return median(self.samples.get("cycle", []))

    # -- helpers -------------------------------------------------------

    def write_input(self, table: pa.Table, path: str) -> str:
        self.checksums[os.path.relpath(path, self.rep_dir)] = gen.write_parquet(table, path)
        return path

    def setup(self, rep_dir: str) -> None:
        raise NotImplementedError

    def loop(self, deadline: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{os.path.join(os.environ['TMPDIR'], 'duckdb')}'")
    return con


def duck_changelog(ds) -> str:
    """A DuckDB relation over the committed slices of `ds`."""
    files = [os.path.join(ds.path, d["path"]) for d in ds.chain.data_files()]
    return "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"


def same_rows(con, a: str, b: str) -> bool:
    """Multiset equality of two DuckDB queries with the same columns."""
    n = con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
        f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]
    return n == 0


# ---------------------------------------------------------------------------


class StreamPull(Workload):
    """Small appends to a root dataset with a deep history, polled through
    the files-glob source, each pulled through a map/filter derivative and
    read back with `tail` and `sql`."""

    name = "stream-pull"
    # the derivative's predicate; DuckDB evaluates the same text for checks
    FILTER = "event_type = 'purchase' OR value > 100"
    FILTER_SQL = f"SELECT event_time, event_id, user_id, value FROM events WHERE {FILTER}"

    def _batch(self, rng, event_id: int, t0) -> pa.Table:
        n = int(rng.integers(*STREAM_SLICE_ROWS))
        t = gen.events_table(rng, n, 1500, id0=event_id, t0=t0)
        ts = t.column("ts").cast(pa.timestamp("us", tz="UTC"))
        return t.set_column(1, "event_time", ts)

    def _matches(self, batch: pa.Table) -> tuple[int, int | None]:
        """Rows of `batch` the derivative keeps, and the largest event id."""
        return duckdb.sql(f"SELECT count(*), max(event_id) FROM batch WHERE {self.FILTER}").fetchone()

    def _poll(self) -> None:
        """`kamu pull` of the root: one files-glob poll appends the batch
        staged in the source directory."""
        from kamu_cli_spark.operators.merge import MergeStrategyAppend
        from kamu_cli_spark.sources import fetch

        fetch.ingest_files_glob(
            self.spark, self.ds, MergeStrategyAppend(), os.path.join(self.src_dir, "*.parquet"), fmt="parquet"
        )

    def _stage(self, i: int) -> None:
        shutil.copy(self.inputs[i], self.src_dir)

    def setup(self, rep_dir: str) -> None:
        from kamu_cli_spark.dataset import Dataset
        from kamu_cli_spark.transform import make_transform_executor, set_transform
        from kamu_cli_spark.verification import physical_hash

        self.rep_dir = rep_dir
        with self.untimed():
            rng = np.random.default_rng(self.seed)
            tables, eid, t = [], 0, gen.EPOCH_2024
            for _ in range(STREAM_HISTORY + self.max_ops):
                b = self._batch(rng, eid, t)
                eid += b.num_rows
                t = np.datetime64(b.column("event_time")[-1].value, "us")
                tables.append(b)
            self.inputs = [
                self.write_input(b, os.path.join(rep_dir, "inputs", f"events-{i:04d}.parquet"))
                for i, b in enumerate(tables)
            ]
            history, self.batches = tables[:STREAM_HISTORY], tables[STREAM_HISTORY:]
            self.matches = sum(self._matches(h)[0] for h in history)

        self.ws = os.path.join(rep_dir, "ws")
        self.src_dir = os.path.join(rep_dir, "source")
        os.makedirs(self.src_dir)
        self.ds = Dataset.create(self.ws, "events")
        self.ds.chain.append({"kind": "SetPollingSource", "merge": {"kind": "Append"}})
        # the first slice comes through the source, which declares the schema
        with self.untimed():
            self._stage(0)
        self._poll()
        first = self.ds.slice_paths()[0]
        schema = pq.read_schema(first)
        off = self.ds.chain.next_offset()
        base = datetime.fromisoformat(self.ds.chain.head().system_time)
        for h, b in enumerate(history[1:], start=1):
            # the remaining history in the writer's on-disk layout, recorded
            # through the ledger: one sorted snappy file per slice. Writing
            # the file is the benchmark's work; hashing and recording it is
            # the program's.
            n = b.num_rows
            st = base + timedelta(microseconds=h)
            rel = f"data/{len(self.ds.chain):06d}-{off}-{off + n - 1}-{h:08x}.parquet"
            path = os.path.join(self.ds.path, rel)
            with self.untimed():
                cols = {
                    "offset": pa.array(np.arange(off, off + n, dtype=np.int64)),
                    "op": pa.array(np.zeros(n, dtype=np.int32)),
                    "system_time": pa.array(np.full(n, np.datetime64(st.replace(tzinfo=None), "us"))),
                }
                cols.update({c: b.column(c) for c in b.column_names})
                table = pa.table(cols).select(schema.names).cast(schema)
                # Spark's Parquet writer stores timestamps as INT96
                pq.write_table(table, path, compression="snappy", use_deprecated_int96_timestamps=True)
            self.ds.chain.append(
                {
                    "kind": "AddData",
                    "new_data": {
                        "path": rel,
                        "offset_interval": {"start": off, "end": off + n - 1},
                        "num_records": n,
                        "size": os.path.getsize(path),
                        "physical_hash": physical_hash(path),
                    },
                    "new_watermark": b.column("event_time")[-1].as_py().isoformat(),
                },
                system_time=st.isoformat(),
            )
            off += n
        self.deriv = Dataset.create(self.ws, "purchases", kind="Derivative")
        set_transform(self.deriv, {"events": self.ds.path}, self.FILTER_SQL)
        make_transform_executor(self.deriv).execute(self.spark)
        self.info["history_slices"] = len(self.ds.chain.data_files())
        self.done = 0

    def loop(self, deadline: float) -> None:
        from kamu_cli_spark.query.service import QueryService
        from kamu_cli_spark.transform import make_transform_executor

        qs = QueryService(self.spark, self.ws)
        while (time.perf_counter() < deadline or self.ops < self.min_ops) and self.done < len(
            self.batches
        ):
            hits, last_id = self._matches(self.batches[self.done])
            self.matches += hits
            self._stage(STREAM_HISTORY + self.done)
            with self.op("cycle"):
                t0 = time.perf_counter()
                with self.step("commit"):
                    self._poll()
                with self.step("pull"):
                    make_transform_executor(self.deriv).execute(self.spark)
                for _ in range(5):
                    with self.step("tail"):
                        tail = qs.tail(self.deriv.name, limit=10)
                        rows = tail.collect()
                    if rows and max(r["event_id"] for r in rows) >= last_id:
                        break
                else:
                    raise RuntimeError("pulled batch not visible through tail")
                self.sample("freshness", time.perf_counter() - t0)
                self.note_catalyst(tail)
                with self.step("sql"):
                    (n,) = qs.sql(f"SELECT count(*) AS n FROM {self.deriv.name}").collect()[0]
            self.expect(f"derivative row count after batch {self.done}", n == self.matches)
            self.done += 1
        self.info["batches"] = self.done

    def check(self) -> None:
        from kamu_cli_spark.verification import verify_dataset, verify_transform_replay

        con = duck()
        for ds in (self.ds, self.deriv):
            n, lo, hi, nd = con.execute(
                f'SELECT count(*), min("offset"), max("offset"), count(DISTINCT "offset") '
                f"FROM {duck_changelog(ds)}"
            ).fetchone()
            self.expect(f"{ds.name} offsets are dense", lo == 0 and hi == n - 1 and nd == n)
        root = duck_changelog(self.ds)
        self.expect(
            "derivative equals a DuckDB filter of the root",
            same_rows(
                con,
                f"SELECT event_id, user_id, value FROM {root} WHERE {self.FILTER}",
                f"SELECT event_id, user_id, value FROM {duck_changelog(self.deriv)}",
            ),
        )
        t0 = time.perf_counter()
        with self.tracer.span("verify.replay"):
            ok = verify_transform_replay(self.spark, self.deriv)
        self.expect("transform replay reproduces the derivative", ok is True)
        with self.tracer.span("verify.dataset"):
            verify_dataset(self.spark, self.deriv)
        # verify_dataset raises on any mismatch, which fails the run's checks
        self.expect("verify_dataset passes on the derivative", True)
        self.info["verify_s"] = time.perf_counter() - t0
        used = self.batches[: self.done]
        self.info["rows_ingested"] = sum(b.num_rows for b in used)
        self.info["input_bytes"] = sum(
            os.path.getsize(os.path.join(self.rep_dir, "inputs", f"events-{STREAM_HISTORY + i:04d}.parquet"))
            for i in range(self.done)
        )


# ---------------------------------------------------------------------------


class Operators(Workload):
    """The operator registry over raw generated Parquet, no ODF datasets."""

    name = "operators"
    # A pass takes about as long as a run's measuring window, so the
    # deadline alone would give one pass in some runs and two in others,
    # and the share of cold first-pass times in the medians would vary.
    min_passes = 2

    def setup(self, rep_dir: str) -> None:
        from kamu_cli_spark.sources.testdata import TABLES, load_table

        self.rep_dir = rep_dir
        self.data = os.path.join(rep_dir, "inputs")
        with self.untimed():
            for name, table in gen.star_schema(self.seed, OPERATOR_SF).items():
                self.write_input(table, os.path.join(self.data, f"{name}.parquet"))
        # the session's relation cache: file listing and footer schema,
        # built once per table and reused by every query of the loop
        for name in TABLES:
            load_table(self.spark, self.data, name)

    def loop(self, deadline: float) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        passes = 0
        while time.perf_counter() < deadline or passes < self.min_passes:
            for name in OPERATOR_QUERIES:
                with self.op("query"):
                    t0 = time.perf_counter()
                    with self.tracer.span(f"operator.{name}"):
                        # written to the noop sink, as bench.py does: the
                        # query runs in full and no rows reach Python
                        df = queries[name](self.spark, self.data)
                        df.write.mode("overwrite").format("noop").save()
                    self.sample(name, time.perf_counter() - t0)
                    self.note_catalyst(df)
                # operators pin intermediates for their own run; drop them
                # so no query sees another's blocks
                self.spark.catalog.clearCache()
            passes += 1
        self.info["passes"] = passes

    def cycle_s(self) -> float | None:
        if not all(self.samples.get(q) for q in OPERATOR_QUERIES):
            return None
        return sum(median(self.samples[q]) for q in OPERATOR_QUERIES)

    def check(self) -> None:
        import __spark_entry__ as entry
        from kamu_cli_spark.sources.testdata import TABLES
        from oracle import equal_up_to_rounding_ties, rounded_columns
        from tools.oracle_check import table_hash

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duck()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        ties = []
        for name in OPERATOR_QUERIES:
            # one more run of the query, collected for the comparison
            df = queries[name](self.spark, self.data)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            self.spark.catalog.clearCache()
            ddf = con.execute(oracles[name]).df()
            want = list(ddf.itertuples(index=False, name=None))
            same = table_hash(cols, rows) == table_hash(list(ddf.columns), want)
            if not same and equal_up_to_rounding_ties(
                cols, rows, list(ddf.columns), want, rounded_columns(oracles[name])
            ):
                same = True
                ties.append(name)
            self.expect(f"{name} equals its oracle", same)
        # queries whose hash differed only by a rounding tie (see oracle.py)
        self.info["oracle_rounding_ties"] = ties


WORKLOADS = {w.name: w for w in (StreamPull, Operators)}
