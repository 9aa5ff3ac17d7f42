"""Capture `.explain("formatted")` for registry queries WITHOUT
executing them — driver-only, so it can run while other jobs own the
box. Lazy plans only: queries that execute eagerly during construction
(iterative fits) still run their jobs; plan text reflects the RETURNED
frame either way.

Usage: python tools/capture_plans.py <tag> <query> [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r15)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

from kamu_cli_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"),
    )
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark(app_name="kamu-cli-spark-plans")
    queries = entry.queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(txt)
        print(f"{name}: {len(txt)} chars", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
