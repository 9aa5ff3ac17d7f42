"""Writer pipeline + metadata chain lifecycle tests.

Mirrors the reference's writer/chain invariants (writer.rs pipeline,
metadata_chain.rs:968-990): dense contiguous offsets, monotonic
watermark, prev-hash chaining, schema fixed at first write, slice files
sorted by offset.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from kamu_cli_spark.dataset import Dataset
from kamu_cli_spark.ledger import ChainIntegrityError
from kamu_cli_spark.ledger.chain import MetadataChain
from kamu_cli_spark.operators import (
    MergeStrategyAppend,
    MergeStrategyChangelogStream,
    MergeStrategyLedger,
    MergeStrategySnapshot,
    MergeStrategyUpsertStream,
)
from kamu_cli_spark.verification import verify_dataset
from kamu_cli_spark.vocab import OperationType as Op
from kamu_cli_spark.writer import DataWriter, WriterError


T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
T1 = datetime(2024, 1, 2, tzinfo=timezone.utc)
T2 = datetime(2024, 1, 3, tzinfo=timezone.utc)


def test_ledger_ingest_lifecycle(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "cities", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["city"]))

    poll1 = spark.createDataFrame(
        [("vancouver", 1), ("seattle", 2)], "city string, population int"
    )
    ev1 = w.write(spark, poll1, system_time=T0, source_event_time=T0)
    assert ev1["new_data"]["offset_interval"] == {"start": 0, "end": 1}

    # overlapping poll → only unseen key appended, offsets continue
    poll2 = spark.createDataFrame(
        [("seattle", 2), ("kyiv", 3)], "city string, population int"
    )
    ev2 = w.write(spark, poll2, system_time=T1, source_event_time=T1)
    assert ev2["new_data"]["offset_interval"] == {"start": 2, "end": 2}

    # up-to-date poll → no commit
    ev3 = w.write(spark, poll2, system_time=T2, source_event_time=T2)
    assert ev3 is None

    df = ds.read(spark)
    assert df.count() == 3
    rows = {r["city"]: r for r in df.collect()}
    assert rows["kyiv"]["offset"] == 2 and rows["kyiv"]["op"] == Op.APPEND
    assert df.columns[:4] == ["offset", "op", "system_time", "event_time"]

    ds.chain.verify()
    kinds = [b.event["kind"] for b in ds.chain.blocks()]
    assert kinds == ["Seed", "SetDataSchema", "AddData", "AddData"]


def test_snapshot_ingest_watermark_and_offsets(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "snap", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategySnapshot(["city"]))

    poll1 = spark.createDataFrame(
        [("vancouver", 1), ("seattle", 2), ("kyiv", 3)], "city string, population int"
    )
    w.write(spark, poll1, system_time=T0, source_event_time=T0)
    poll2 = spark.createDataFrame(
        [("seattle", 2), ("kyiv", 4), ("odessa", 5)], "city string, population int"
    )
    w.write(spark, poll2, system_time=T1, source_event_time=T1)

    df = ds.read(spark).orderBy("offset")
    got = [(r["offset"], r["op"], r["city"], r["population"]) for r in df.collect()]
    # poll1: appends sorted by (city, op); poll2: kyiv -C/+C pair, odessa +A,
    # vancouver -R — sorted by (city, op), offsets dense & contiguous
    assert got == [
        (0, Op.APPEND, "kyiv", 3),
        (1, Op.APPEND, "seattle", 2),
        (2, Op.APPEND, "vancouver", 1),
        (3, Op.CORRECT_FROM, "kyiv", 3),
        (4, Op.CORRECT_TO, "kyiv", 4),
        (5, Op.APPEND, "odessa", 5),
        (6, Op.RETRACT, "vancouver", 1),
    ]
    wm = ds.chain.current_watermark()
    assert wm is not None and wm.startswith("2024-01-02")
    ds.chain.verify()


def test_system_column_clash_rejected(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "clash", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["city"]))
    bad = spark.createDataFrame([(0, "a", 1)], "offset long, city string, v int")
    with pytest.raises(WriterError, match="clashes"):
        w.write(spark, bad, system_time=T0)


def test_schema_fixed_after_first_write(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "fixed", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["city"]))
    w.write(spark, spark.createDataFrame([("a", 1)], "city string, v int"), system_time=T0)
    with pytest.raises(WriterError, match="incompatible"):
        w.write(
            spark,
            spark.createDataFrame([("b", "oops")], "city string, v string"),
            system_time=T1,
        )


def test_chain_tamper_detection(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "tamper", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["city"]))
    w.write(spark, spark.createDataFrame([("a", 1)], "city string, v int"), system_time=T0)

    path = ds.chain.path
    lines = open(path).read().splitlines()
    lines[-1] = lines[-1].replace('"num_records":1', '"num_records":999')
    open(path, "w").write("\n".join(lines) + "\n")

    tampered = Dataset(ds.path)
    with pytest.raises(ChainIntegrityError):
        tampered.chain.verify()


def test_read_between_offset_interval(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "interval", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["k"]))
    w.write(spark, spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), system_time=T0)
    w.write(spark, spark.createDataFrame([("c", 3), ("d", 4)], "k string, v int"), system_time=T1)

    inc = ds.read_between(spark, prev_offset=1, new_offset=None)
    assert sorted(r["k"] for r in inc.collect()) == ["c", "d"]
    assert ds.read_between(spark, prev_offset=3, new_offset=None) is None


# -- commit results pinned across writer refactors ---------------------

_FIXED = [("a", 1, 1), ("b", 2, 2), ("c", 3, 3), ("d", 4, 4),
          ("e", 5, 5), ("f", 6, 6), ("g", 7, 7), ("h", 8, 8)]


def _batch(spark, rows, with_op=False):
    """(k, v, hour[, op]) tuples → frame with distinct sort keys, so
    offsets never depend on partitioning."""
    if with_op:
        return spark.createDataFrame(
            [(op, k, v, T0 + timedelta(hours=h)) for k, v, h, op in rows],
            "op int, k string, v int, event_time timestamp",
        )
    return spark.createDataFrame(
        [(k, v, T0 + timedelta(hours=h)) for k, v, h in rows],
        "k string, v int, event_time timestamp",
    )


def _commit_fixed_input(spark, root):
    """Commit one fixed input through every merge strategy (keyed ones
    twice, so the second commit merges against history) plus a chunked
    append; return each dataset's data blocks as
    (start, end, num_records, new_watermark, logical_hash)."""
    second = [("b", 2, 2), ("c", 30, 9), ("e", 5, 5), ("i", 9, 10)]
    upserts = [("a", 10, 9, Op.APPEND), ("b", 2, 2, Op.APPEND),
               ("c", 3, 3, Op.RETRACT), ("z", 26, 11, Op.APPEND)]
    cases = {
        "append": (MergeStrategyAppend(), None, [_batch(spark, _FIXED)]),
        "ledger": (MergeStrategyLedger(["k"]), None,
                   [_batch(spark, _FIXED), _batch(spark, second)]),
        "snapshot": (MergeStrategySnapshot(["k"]), None,
                     [_batch(spark, _FIXED), _batch(spark, second)]),
        "changelog": (MergeStrategyChangelogStream(["k"]), None, [_batch(
            spark,
            [(k, v, h, Op.APPEND) for k, v, h in _FIXED]
            + [("a", 1, 9, Op.RETRACT)],
            with_op=True,
        )]),
        "upsert": (MergeStrategyUpsertStream(["k"]), None, [
            _batch(spark, [(k, v, h, Op.APPEND) for k, v, h in _FIXED],
                   with_op=True),
            _batch(spark, upserts, with_op=True),
        ]),
        "chunked": (MergeStrategyAppend(), 3, [_batch(spark, _FIXED)]),
    }
    out = {}
    for name, (strategy, max_slice, batches) in cases.items():
        ds = Dataset.create(root, name, system_time=T0.isoformat())
        w = DataWriter(ds, strategy, compute_logical_hash=True,
                       max_slice_records=max_slice)
        for i, b in enumerate(batches):
            w.write(spark, b, system_time=T0 + timedelta(days=i))
        out[name] = [
            (
                nd["offset_interval"]["start"],
                nd["offset_interval"]["end"],
                nd["num_records"],
                blk.event["new_watermark"],
                nd["logical_hash"],
            )
            for blk in ds.chain.blocks()
            if (nd := blk.event.get("new_data"))
        ]
    return out


# offset intervals, num_records, watermarks and logical hashes of
# _commit_fixed_input as committed before the writer took its row stats
# from the offset pass. Physical hashes are not pinned: the Parquet
# writer does not reproduce them run to run.
_PINNED = {
    'append': [
        (0, 7, 8, '2024-01-01T08:00:00+00:00',
         'f16202a301c20a464f270a760004dec982330c950fab38117018dc897d7e4810db8c9'),
    ],
    'ledger': [
        (0, 7, 8, '2024-01-01T08:00:00+00:00',
         'f16202a301c20a464f270a760004dec982330c950fab38117018dc897d7e4810db8c9'),
        (8, 8, 1, '2024-01-01T10:00:00+00:00',
         'f162084bd7a6a8e79afd94db1fbb6e680dd3aa8fcb831b55ac18f17ad36f45491dde0'),
    ],
    'snapshot': [
        (0, 7, 8, '2024-01-01T08:00:00+00:00',
         'f16202a301c20a464f270a760004dec982330c950fab38117018dc897d7e4810db8c9'),
        (8, 15, 8, '2024-01-01T10:00:00+00:00',
         'f1620ae463900313fca879eaeba276f0ee134ca9b863653a2cc042ffd15c5ad1a7650'),
    ],
    'changelog': [
        (0, 8, 9, '2024-01-01T09:00:00+00:00',
         'f16205ca70c151a7499664a985ec8f08eadfc746a2d850041f86d07f3dd756833dc4c'),
    ],
    'upsert': [
        (0, 7, 8, '2024-01-01T08:00:00+00:00',
         'f16202a301c20a464f270a760004dec982330c950fab38117018dc897d7e4810db8c9'),
        (8, 11, 4, '2024-01-01T11:00:00+00:00',
         'f16204936970ac168c57ce9fffd4c1e9049161994085952d7a6cfb0fec60623f08d3e'),
    ],
    'chunked': [
        (0, 2, 3, None,
         'f1620b1a42ed3e645161207ac72c80268d89c7f473ba0decaf37af840a93b0ce806e0'),
        (3, 5, 3, None,
         'f1620fd4141bbb72b2a43f07ef16aafa1429d26df2b03ab9bf03ef808774a610584df'),
        (6, 7, 2, '2024-01-01T08:00:00+00:00',
         'f1620844980fa212c3c58e627317d977439eda1d5720b10970ae9cd1583a05e2c2920'),
    ],
}


def test_commit_results_pinned(spark, tmp_path):
    assert _commit_fixed_input(spark, str(tmp_path)) == _PINNED


def test_non_keyed_commits_never_read_history(spark, tmp_path, monkeypatch):
    from kamu_cli_spark.transform import TransformExecutor, set_transform

    ws = str(tmp_path)
    root = Dataset.create(ws, "root", system_time=T0.isoformat())
    w = DataWriter(root, MergeStrategyAppend())
    w.write(spark, _batch(spark, _FIXED[:4]), system_time=T0)
    deriv = Dataset.create(ws, "deriv", kind="Derivative", system_time=T0.isoformat())
    set_transform(
        deriv,
        inputs={"root": root.path},
        queries="select event_time, k, v from root where v % 2 = 0",
        system_time=T0.isoformat(),
    )
    TransformExecutor(deriv).execute(spark, system_time=T0)

    def no_history(*a, **k):
        raise AssertionError("Dataset.read called by a non-keyed commit")

    monkeypatch.setattr(Dataset, "read", no_history)
    ev = w.write(spark, _batch(spark, _FIXED[4:]), system_time=T1)
    assert ev["new_data"]["offset_interval"] == {"start": 4, "end": 7}
    ev = TransformExecutor(deriv).execute(spark, system_time=T1)
    assert ev["new_data"]["num_records"] == 2
    assert ev["query_inputs"]["root"] == {"prev_offset": 3, "new_offset": 7}


def test_commits_release_their_pins(spark, tmp_path):
    jsc = spark.sparkContext._jsc

    def write_counting_pins(fn):
        before = jsc.getPersistentRDDs().size()
        out = fn()
        assert jsc.getPersistentRDDs().size() == before
        return out

    ds = Dataset.create(str(tmp_path), "pins", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["k"]))
    poll = _batch(spark, _FIXED)
    assert write_counting_pins(lambda: w.write(spark, poll, system_time=T0))
    # up-to-date poll: the merge is empty, nothing commits
    assert write_counting_pins(lambda: w.write(spark, poll, system_time=T1)) is None

    def split_streaming_batch():
        with pytest.raises(WriterError, match="single slice"):
            DataWriter(ds, MergeStrategyAppend(), max_slice_records=2).write(
                spark,
                _batch(spark, [("x", 1, 20), ("y", 2, 21), ("z", 3, 22)]),
                system_time=T2,
                extra_event={"streaming_batch": {"source": "s", "id": 0}},
            )

    write_counting_pins(split_streaming_batch)


# -- a commit is one shuffle plus one write job ------------------------


def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn started), counted in a job group
    of fn's own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commits_run_two_jobs(spark, tmp_path):
    from kamu_cli_spark.transform import TransformExecutor, set_transform

    ws = str(tmp_path)
    root = Dataset.create(ws, "root", system_time=T0.isoformat())
    append = DataWriter(root, MergeStrategyAppend())
    batch = _batch(spark, _FIXED)
    ev, jobs = _jobs_run_by(spark, lambda: append.write(spark, batch, system_time=T0))
    assert ev["new_data"]["num_records"] == 8
    assert jobs == 2

    # keyed-state upkeep writes its own files; the commit itself is 2 jobs
    big = Dataset.create(ws, "big", system_time=T0.isoformat())
    chunked = DataWriter(big, MergeStrategyLedger(["k"]), max_slice_records=40,
                         maintain_state=False)
    batch = spark.range(100).selectExpr("cast(id as string) as k", "id as v")
    _, jobs = _jobs_run_by(spark, lambda: chunked.write(
        spark, batch, system_time=T0, source_event_time=T0))
    assert [f["num_records"] for f in big.chain.data_files()] == [40, 40, 20]
    assert jobs == 2

    deriv = Dataset.create(ws, "deriv", kind="Derivative", system_time=T0.isoformat())
    set_transform(
        deriv,
        inputs={"root": root.path},
        queries="select event_time, k, v from root where v % 2 = 0",
        system_time=T0.isoformat(),
    )
    pull = TransformExecutor(deriv)
    ev, jobs = _jobs_run_by(spark, lambda: pull.execute(spark, system_time=T0))
    assert ev["new_data"]["num_records"] == 4
    assert jobs == 2


# -- failed commits leave nothing behind --------------------------------


def _assert_nothing_left(ds, blocks):
    assert len(ds.chain) == blocks
    assert not [d for d in os.listdir(ds.path) if d.startswith(".tmp-")]
    live = sorted(os.path.basename(d["path"]) for d in ds.chain.data_files())
    assert sorted(os.listdir(os.path.join(ds.path, "data"))) == live


def test_failing_batch_appends_nothing(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "boom", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyAppend())
    bad = spark.range(8).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).alias("v")
    )
    with pytest.raises(Exception, match="boom"):
        w.write(spark, bad, system_time=T0)
    # not even the SetDataSchema block: nothing was committed
    _assert_nothing_left(ds, 1)

    ev = w.write(spark, spark.range(3).selectExpr("id as v"), system_time=T0)
    assert ev["new_data"]["offset_interval"] == {"start": 0, "end": 2}


def test_chunked_commit_failing_mid_way_keeps_its_first_chunks(
    spark, tmp_path, monkeypatch
):
    ds = Dataset.create(str(tmp_path), "torn", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyAppend(), max_slice_records=3)
    real_append = MetadataChain.append
    data_appends = []

    def append_failing_second_slice(self, event, *a, **k):
        if event.get("new_data"):
            data_appends.append(event)
            if len(data_appends) == 2:
                raise OSError("disk full")
        return real_append(self, event, *a, **k)

    monkeypatch.setattr(MetadataChain, "append", append_failing_second_slice)
    with pytest.raises(OSError, match="disk full"):
        w.write(spark, _batch(spark, _FIXED), system_time=T0)
    monkeypatch.setattr(MetadataChain, "append", real_append)

    # Seed, SetDataSchema and the first 3-row slice
    _assert_nothing_left(ds, 3)
    assert [f["offset_interval"] for f in ds.chain.data_files()] == [
        {"start": 0, "end": 2}
    ]
    verify_dataset(spark, ds)

    ev = w.write(spark, _batch(spark, [("x", 1, 20), ("y", 2, 21)]), system_time=T1)
    assert ev["new_data"]["offset_interval"] == {"start": 3, "end": 4}
    verify_dataset(spark, ds)


def test_split_streaming_batch_appends_nothing(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "stream", system_time=T0.isoformat())
    with pytest.raises(WriterError, match="single slice"):
        DataWriter(ds, MergeStrategyAppend(), max_slice_records=2).write(
            spark,
            _batch(spark, [("x", 1, 20), ("y", 2, 21), ("z", 3, 22)]),
            system_time=T0,
            extra_event={"streaming_batch": {"source": "s", "id": 0}},
        )
    _assert_nothing_left(ds, 1)
