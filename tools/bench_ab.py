"""A/B harness for per-query fixed-overhead experiments.

Runs the bench.py headline suite with a JSON dict of extra Spark confs
taken from $SPARK_GRAFT_AB_CONF, printing the same one-line JSON as
bench.py plus the conf that was applied. Each invocation is a fresh
JVM, so confs that must be set before launch (driver memory, etc.)
take effect.

Usage:
    SPARK_GRAFT_AB_CONF='{"spark.sql.shuffle.partitions":"8"}' \
        python tools/bench_ab.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from pyspark.sql import functions as F

from kamu_cli_spark.session import get_spark
from bench import HEADLINE


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    conf = json.loads(os.environ.get("SPARK_GRAFT_AB_CONF", "{}"))
    # SPARK_GRAFT_AB_CONFS: a JSON LIST of conf dicts (runtime-settable
    # SQL confs only). Each query is run under every conf in sequence
    # within ONE JVM, so machine-load drift hits all arms equally —
    # this is the only comparison that's trustworthy on a shared box.
    confs = json.loads(os.environ.get("SPARK_GRAFT_AB_CONFS", "null"))
    only = os.environ.get("SPARK_GRAFT_AB_ONLY", "")
    names = [n for n in only.split(",") if n] or HEADLINE
    spark = get_spark(app_name="kamu-cli-spark-ab", extra_conf=conf)

    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        10_000
    ).write.mode("overwrite").format("noop").save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    # SPARK_GRAFT_AB_SPLIT=1 additionally reports, for the best run of
    # each query: time spent building the DataFrame (Py4J plan
    # construction + any internal actions the operator runs) vs the
    # final noop action, plus the number of Spark jobs the query fired
    # (jobs > 1 means the operator hides extra actions).
    split = os.environ.get("SPARK_GRAFT_AB_SPLIT") == "1"
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    queries = entry.queries()

    def job_high_water() -> int:
        # Max job ID, not list length: IDs are monotonic, so the delta
        # survives spark.ui.retainedJobs evictions and ignores job-group
        # scoping (getJobIdsForGroup(None) only sees the default group).
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def run_query(name: str) -> tuple[float, dict]:
        fn = queries[name]
        best = None
        best_detail: dict = {}
        for _run in range(2):
            jobs_before = job_high_water() if split else 0
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            dt = t2 - t0
            if best is None or dt < best:
                best = dt
                if split:
                    best_detail = {
                        "build": round(t1 - t0, 3),
                        "action": round(t2 - t1, 3),
                        "jobs": job_high_water() - jobs_before,
                    }
        return best, best_detail

    if confs:
        # Interleaved multi-arm comparison: every query runs under every
        # conf arm back-to-back, so load drift is shared across arms.
        # Arms must be independent: before each arm, every key any arm
        # touches is restored to its pre-run value (or unset) so a key
        # set by arm N doesn't silently persist into arm N+1.
        all_keys = sorted({k for arm in confs for k in arm})
        baseline_vals: dict[str, str | None] = {}
        for k in all_keys:
            try:
                baseline_vals[k] = spark.conf.get(k)
            except Exception:
                baseline_vals[k] = None

        def apply_arm(arm: dict) -> None:
            for k in all_keys:
                if k in arm:
                    spark.conf.set(k, str(arm[k]))
                elif baseline_vals[k] is not None:
                    spark.conf.set(k, baseline_vals[k])
                else:
                    spark.conf.unset(k)

        arm_times: list[dict[str, float]] = [{} for _ in confs]
        for name in names:
            for i, arm in enumerate(confs):
                apply_arm(arm)
                best, _ = run_query(name)
                arm_times[i][name] = round(best, 3)
        print(
            json.dumps(
                {
                    "arms": [
                        {
                            "conf": arm,
                            "total": round(sum(t.values()), 3),
                            "queries": t,
                        }
                        for arm, t in zip(confs, arm_times)
                    ]
                }
            )
        )
        spark.stop()
        return

    times: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in names:
        best, best_detail = run_query(name)
        times[name] = round(best, 3)
        if split:
            detail[name] = best_detail

    out = {
        "total": round(sum(times.values()), 3),
        "queries": times,
        "conf": conf,
    }
    if split:
        out["detail"] = detail
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
