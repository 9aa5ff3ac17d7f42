"""Round-14 optimization measurement harness.

Times individual registry queries through the same noop-sink
methodology as bench.py (min-of-N within one JVM, each run built
afresh) and captures `.explain("formatted")` for each into
plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r15).

Usage:
    python tools/profile_queries.py <tag> <query> [query ...]
    SPARK_GRAFT_PROFILE_RUNS=3 python tools/profile_queries.py before tpch_q3

Prints one line per query: name, per-run seconds, min.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from pyspark.sql import functions as F

from kamu_cli_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "3"))
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"),
    )
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark(app_name="kamu-cli-spark-profile")

    # identical warmup to bench.py
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        10_000
    ).write.mode("overwrite").format("noop").save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    queries = entry.queries()
    for name in names:
        fn = queries[name]
        runs = []
        for i in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs.append(round(time.time() - t0, 3))
            if i == 0 and tag != "none":
                # capture the plan of the (already-executed) frame
                with open(
                    os.path.join(plans_dir, f"{name}_{tag}.txt"), "w"
                ) as fh:
                    fh.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    ))
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: runs={runs} min={min(runs)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
