"""SparkSession factory tuned for the engine's workloads.

Defaults are chosen for large-scale correctness + performance:

- UTC session timezone — ODF canonicalizes all timestamps to UTC
  (reference: writer.rs:162-196).
- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — the 100 TB safety net for skewed CDC keys.
- Arrow-based Python<->JVM transfer for the few Pandas-UDF operators.
- Parquet filter pushdown + vectorized reader kept on (defaults), so
  declarative plans get scan-level pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kamu-cli-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    case_sensitive: bool = False,
) -> SparkSession:
    """`case_sensitive=True` opts the session into ODF's case-sensitive
    identifier semantics (reference: engine_config_embedded.rs:18-30
    sets DataFusion's ident normalization off). Spark's default is
    case-insensitive and we keep it for SQL-surface compatibility with
    the DuckDB oracle; ODF ingest/transform pipelines that need
    case-distinct columns opt in here. The conf is runtime-settable, so
    it is (re)applied even when an existing JVM session is reused."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    # local mode runs every task inside the driver JVM, so the driver
    # heap IS the executor memory; the 1g default OOMs the first big
    # broadcast build. Must be set before the JVM launches. 8g, not
    # bigger: measured A/B showed a 32g heap makes long multi-query
    # sessions 3-4x slower on later queries (GC geometry), while
    # 4g/8g behave like 1g and still fit sf1-scale broadcasts.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by target size (advisory
        # 64 MB), not up to defaultParallelism: parallelismFirst=true
        # (Spark's default) keeps ~32 reduce tasks alive for KB-scale
        # shuffles, pure scheduling overhead. Interleaved A/B at sf0.1
        # (tools/bench_ab.py, round 5): 35.2s -> 26.4s suite total.
        # This is also the setting Spark's own docs recommend for real
        # clusters, so it is scale-correct, not a small-data hack.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # serialized cache/checkpoint blocks (DISK_ONLY intermediates:
        # substring-dedup occurrences, pagerank edges/ranks) compress
        # ~2-3× with lz4; Spark's default leaves them raw, and at the
        # sf100 decades the DISK footprint of materialized
        # intermediates — not CPU — was the binding constraint
        .config("spark.rdd.compress", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's stock 10 MB: a 64 MB threshold made q5/q3 broadcast a
        # 15 MB-parquet orders table at sf1 — the single-threaded
        # driver-side hash-relation build cost more than the shuffle it
        # avoided (8.0s -> 4.9s warm at sf1 after the revert). True
        # dimension tables stay far under 10 MB at every SF, and AQE
        # still upgrades shuffle joins to broadcast from runtime sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when Catalyst's size
        # estimate says the build side fits a per-task hash map
        # (canBuildLocalHashMap guard — oversized builds still get SMJ,
        # so this is not a small-data hack): skips BOTH sort passes on
        # the fact-fact joins. Interleaved A/B at sf1 (round 8):
        # tpch_q3 4.25s -> 3.17s, tpch_q5 4.24s -> 3.38s,
        # top3_orders_per_customer 1.81s -> 1.59s; nothing regressed.
        # AQE skew-join splitting covers SHJ as of Spark 3.2+.
        # RISK (documented per round-8 advice): an SHJ build-side hash
        # map does not spill, so a badly misestimated build side (stats
        # stale after filters/UDFs) can OOM a task that SMJ would have
        # completed. Escape hatch without editing source:
        #   extra_conf={"spark.sql.join.preferSortMergeJoin": "true"}.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # ODF identifiers are case-sensitive (reference:
        # engine_config_embedded.rs:18-30). Spark's default is
        # case-insensitive; we keep Spark's default for SQL-surface
        # compatibility with the DuckDB oracle, but preserve column case.
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    builder = builder.config(
        "spark.sql.caseSensitive", "true" if case_sensitive else "false"
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if case_sensitive and spark.conf.get("spark.sql.caseSensitive") != "true":
        # getOrCreate returned a pre-existing session: apply at runtime
        spark.conf.set("spark.sql.caseSensitive", "true")
    return spark
