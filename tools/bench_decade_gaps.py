"""Decade evidence for the graded families missing from the headline-22
sf1/sf10 tables: run each query on Spark (noop sink, min-of-2) and its
oracle SQL on DuckDB (subprocess, min-of-2, per-query timeout) over the
same scaled parquet directory.

Usage: python tools/bench_decade_gaps.py /tmp/sf1 [query ...]
Prints one JSON line {"sf_dir": ..., "spark": {...}, "duckdb": {...}}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from pyspark.sql import functions as F

from kamu_cli_spark.session import get_spark

GAPS = [
    "events_sessionization",
    "lineitem_rollup",
    "customer_window_battery",
    "lineitem_percentiles",
    "region_string_agg",
    "orders_regex_battery",
    "events_salted_agg",
    "events_json_props",
    "events_tail",
    "customer_set_ops",
    "orders_above_cust_avg",
    "cumulative_revenue",
    "part_scalar_battery",
    "multi_step_harmonize",
    "suppliers_with_large_orders",
    "documents_image_decode",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DUCK_RUNNER = r"""
import os, sys, time, json, duckdb
sf_dir, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
con.execute("SET temp_directory='/tmp/duckdb_spill'")  # never spill inside the repo

con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
con.execute("SET enable_progress_bar=false")
for t in %s:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isdir(p):  # Spark directory-style table
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
best = None
for _ in range(2):
    t0 = time.time()
    con.execute(sql).fetchall()
    dt = time.time() - t0
    best = dt if best is None else min(best, dt)
print("RESULT:" + json.dumps(best))
""" % (TABLES,)


def main() -> None:
    sf_dir = sys.argv[1]
    if "sf100" in os.path.basename(sf_dir.rstrip("/")):
        # the sf100 decade simulates a 100×-scale node on one box: the
        # deliberately-small 8g default (multi-query GC geometry,
        # session.py) starves 32 concurrent tasks on 600M-row inputs
        # (pagerank edges heap-OOMed at 250 MB/task). One-query decade
        # runs have no later queries to protect — give the JVM the
        # heap a real executor would have. Must be set pre-launch.
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    names = sys.argv[2:] or GAPS
    cap = float(os.environ.get("DECADE_CAP_S", "300"))
    spark = get_spark(app_name="decade-gaps")
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    queries, oracles = entry.queries(), entry.oracle_sql()
    spark_t: dict[str, float] = {}
    duck_t: dict[str, object] = {}
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.time()
            queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        spark_t[name] = round(best, 2)
        print(f"spark  {name}: {spark_t[name]}", file=sys.stderr)

        sql = oracles.get(name)
        if sql is None:
            duck_t[name] = None
            continue
        try:
            out = subprocess.run(
                [sys.executable, "-c", DUCK_RUNNER, sf_dir],
                input=sql, capture_output=True, text=True, timeout=cap,
            )
            duck_t[name] = (
                round(json.loads(next(
                    ln[7:] for ln in out.stdout.splitlines()
                    if ln.startswith("RESULT:")
                )), 2)
                if out.returncode == 0
                else f"err: {out.stderr.strip()[-120:]}"
            )
        except subprocess.TimeoutExpired:
            duck_t[name] = f">{int(cap)}s"
        print(f"duckdb {name}: {duck_t[name]}", file=sys.stderr)

    print(json.dumps({"sf_dir": sf_dir, "spark": spark_t, "duckdb": duck_t}))


if __name__ == "__main__":
    main()
