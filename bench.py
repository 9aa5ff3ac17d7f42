"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query
wall times. Each query is fully executed via the no-op sink (no driver
collect overhead distorting the numbers)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from pyspark.sql import functions as F

from kamu_cli_spark.session import get_spark

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "top3_orders_per_customer",
    "events_daily_tumbling",
    "orders_lineitem_interval_join",
    "orders_events_asof_join",
    "customer_snapshot_cdc",
    "events_snapshot_cdc",
    "orders_ledger_merge",
    "events_changelog_projection",
    "events_upsert_merge",
    "currency_asof",
    "documents_dedup_exact",
    "documents_minhash_lsh",
    "documents_dup_clusters",
    "documents_simhash",
    "documents_winnow",
    "documents_text_metrics",
    # bucketed ANN operators — the scale path (exact cosine_topk stays
    # oracle-graded but out of the headline: its crossJoin is the
    # documented quadratic baseline, not the plan we'd run at 100 TB)
    "embeddings_ann_lsh",
    "embeddings_ivf_ann",
]

# timed separately (reported as extra_queries; excluded from the
# headline total to keep the 22-query trend line comparable)
EXTRA = [
    "documents_train_split",
    "documents_repetition",
    "documents_contamination",
    "documents_pack_sequences",
    "embeddings_quantize",
    "documents_quality_filter",
    "documents_pii_scrub",
    "documents_domain_mix",
    "documents_token_curriculum",
    "embeddings_centroid_stats",
    "documents_cross_dedup",
    "documents_cross_lsh",
    "embeddings_cross_neardup",
    "documents_global_shuffle",
    "documents_image_decode",
    "embeddings_ivf_ann3",
    "documents_chunk",
    "documents_cross_bloom",
    "embeddings_kmeans",
    "embeddings_semantic_dedup",
    "documents_stratified_sample",
    "documents_gram_novelty",
    # round-9/10 families: in the gated extra aggregate so a regression
    # in any flagship can't land silently (BASELINE.md: extra_total
    # min-of-3 bound at sf0.1)
    "embeddings_kmeans_hier",
    "documents_substring_dedup",
    "documents_strip_spans",
    "documents_contaminated_spans",
    "documents_scrub_contaminated",
    "purchase_graph_pagerank",
    "documents_spans_against_corpus",
    "documents_strip_against_corpus",
    # round-11 families — same rationale (BASELINE.md round-11 gate)
    "documents_ngram_lm",
    "documents_bpe_merges",
    "documents_bpe_tokenized",
    "documents_dsir_weights",
    "documents_lm_buckets",
    # late round-11 families (BASELINE.md re-baselined bound)
    "documents_bm25",
    "embeddings_covariance",
    "documents_dsir_select",
    "documents_mixture_rebalance",
    "documents_source_influence",
    "documents_gram_saturation",
    "embeddings_cluster_quality",
    "documents_bpe_fertility",
    # round-12 families — gated per-query (BASELINE_PERQ.json)
    "documents_kmv_distinct",
    "embeddings_kcenter",
    "documents_leakage_split",
    "documents_corpus_drift",
    # round-13 families
    "documents_cms_heavy_hitters",
    "documents_collocations",
    # round-14 families
    "documents_bm25_ln",
    "documents_hll_distinct",
    "documents_source_overlap",
    # rotated out of the graded window in round 15; this entry and its
    # BASELINE_PERQ.json floor are its live gate
    "part_scalar_battery",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="kamu-cli-spark-bench")

    # JVM/codegen warmup so per-query numbers measure the query, not
    # session boot (first parquet read + first shuffle initialize pools)
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(
        10_000
    ).write.mode("overwrite").format("noop").save()
    # boot the Python/Arrow worker pool so mapInPandas operators measure
    # steady-state, not interpreter startup
    spark.range(1000).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    # min of two runs per query: run 1 pays one-time Catalyst/codegen
    # compilation (~0.5-1.5s of driver work that any resident service
    # amortizes away), run 2 is the steady-state per-query latency.
    # Each run builds the query afresh and operators pin nothing past
    # the frames they return, so run 2 re-executes the FULL pipeline —
    # warm JIT, cold data. bench_duckdb.py measures the same way.
    queries = entry.queries()

    def run_group(names: list[str]) -> dict[str, float]:
        times: dict[str, float] = {}
        for name in names:
            fn = queries[name]
            best = None
            for _ in range(2):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
        return times

    times = run_group(HEADLINE)
    # round-5 training-pipeline additions: timed and reported, but kept
    # OUT of the headline total so round-over-round totals stay
    # comparable on the identical 22-query suite
    extra = run_group(EXTRA)

    total = round(sum(times.values()), 3)
    extra_total = round(sum(extra.values()), 3)
    # Full record first (for humans / BENCH_NOTES), then a compact
    # summary line LAST: the driver captures only the final 2000 chars
    # of stdout and json-parses the last line it finds.  Round 11's
    # single ever-growing line outgrew that window once EXTRA hit 43
    # queries (BENCH_r11.json parsed: null), so the parseable line must
    # stay small.  The headline per-query map (~850 chars at 22
    # queries) is included while it fits; totals always are.
    print(
        json.dumps(
            {
                "metric": "headline_queries_full",
                "value": total,
                "unit": "sec",
                "queries": times,
                "extra_queries": extra,
                "extra_total": extra_total,
                "sf": sf,
            }
        )
    )
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "extra_total": extra_total,
        "sf": sf,
    }
    line = json.dumps(summary)
    if len(line) > 1500:
        summary.pop("queries")
        line = json.dumps(summary)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
