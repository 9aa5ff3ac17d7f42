"""Oversized batches split into multiple bounded slice commits."""

from __future__ import annotations

from datetime import datetime, timezone

from kamu_cli_spark.dataset import Dataset
from kamu_cli_spark.operators import MergeStrategyAppend, MergeStrategyLedger
from kamu_cli_spark.verification import verify_dataset
from kamu_cli_spark.writer import DataWriter

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_chunked_slice_commits(spark, tmp_path):
    ds = Dataset.create(str(tmp_path), "big", system_time=T0.isoformat())
    w = DataWriter(ds, MergeStrategyLedger(["k"]), max_slice_records=40)
    df = spark.range(100).selectExpr("cast(id as string) as k", "id as v")
    ev = w.write(spark, df, system_time=T0, source_event_time=T0)

    files = ds.chain.data_files()
    assert len(files) == 3  # 40 + 40 + 20
    assert [f["offset_interval"] for f in files] == [
        {"start": 0, "end": 39},
        {"start": 40, "end": 79},
        {"start": 80, "end": 99},
    ]
    assert [f["num_records"] for f in files] == [40, 40, 20]
    assert ev["new_data"]["offset_interval"]["end"] == 99

    # intermediates must not advance the watermark; the final block does
    blocks = [b for b in ds.chain.blocks() if b.event.get("kind") == "AddData"]
    assert blocks[0].event["new_watermark"] is None
    assert blocks[-1].event["new_watermark"].startswith("2024-01-01")

    full = ds.read(spark)
    assert full.count() == 100
    assert sorted(r["offset"] for r in full.collect()) == list(range(100))
    ds.chain.verify()
    verify_dataset(spark, ds)

    # subsequent writes continue cleanly from the chunked tail
    ev2 = w.write(
        spark,
        spark.createDataFrame([("zz", 1)], "k string, v long"),
        system_time=T0,
    )
    assert ev2["new_data"]["offset_interval"] == {"start": 100, "end": 100}


def test_session_max_records_per_file_cannot_split_a_slice(spark, tmp_path):
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        ds = Dataset.create(str(tmp_path), "conf", system_time=T0.isoformat())
        ev = DataWriter(ds, MergeStrategyAppend()).write(
            spark, spark.range(5).selectExpr("id as v"), system_time=T0
        )
    finally:
        spark.conf.set(key, old)

    assert ev["new_data"]["num_records"] == 5
    files = ds.chain.data_files()
    assert [f["offset_interval"] for f in files] == [{"start": 0, "end": 4}]
    assert sorted(r["v"] for r in ds.read(spark).collect()) == list(range(5))
    verify_dataset(spark, ds)
