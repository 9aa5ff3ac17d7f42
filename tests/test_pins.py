"""Pin lifetimes (operators/util.py pin/release/pinned): a checkpoint is
freed by `release`, scoped pins are gone when their operator returns,
and no operator leaves a CacheManager entry behind for a harness to
`clearCache()` away."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kamu_cli_spark.operators import clustering
from kamu_cli_spark.operators.dedup import (
    connected_components,
    duplicate_spans,
    ngram_jaccard_pairs,
)
from kamu_cli_spark.operators.similarity import embedding_cross_neardup
from kamu_cli_spark.operators.util import pin, pinned, release



def _embeddings(spark, n=200, dim=64):
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def empty_cache(spark):
    """Start from an empty CacheManager: entries other tests cache for
    themselves are not under test here."""
    spark.catalog.clearCache()


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_release_frees_a_checkpoint(spark):
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    before = _persistent_ids(spark)
    p = pin(df)
    rid = _rdd_id(p)
    assert _persistent_ids(spark) - before == {rid}
    p.unpersist()  # DataFrame.unpersist does not reach a checkpoint
    assert rid in _persistent_ids(spark)
    release(p)
    assert rid not in _persistent_ids(spark)
    release(df)  # not a checkpoint: left alone, no error


def test_pinned_releases_on_exception(spark):
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError):
        with pinned(spark.range(10), eager=False) as p:
            assert p.count() == 10
            raise RuntimeError("boom")
    assert _persistent_ids(spark) - before == set()


def test_duplicate_spans_leaves_only_its_spans_pinned(spark):
    boiler = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, f"a b c {boiler} d"), (2, f"x {boiler} y z"), (3, "p q r s")],
        "doc_id long, text string",
    )
    before = _persistent_ids(spark)
    spans = duplicate_spans(
        docs, "doc_id", min_len=8, materialize_occurrences=True
    )
    assert _persistent_ids(spark) - before == {_rdd_id(spans)}
    assert sorted(
        (r["doc_id"], r["span_tokens"]) for r in spans.collect()
    ) == [(1, 12), (2, 12)]


@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_leaves_callers_pairs_uncached(
    spark, empty_cache, driver_threshold
):
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    before = _persistent_ids(spark)
    out = connected_components(pairs, driver_threshold=driver_threshold)
    comps = {r["id"]: r["component"] for r in out.collect()}
    assert comps == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20
    }
    assert not pairs.is_cached
    assert _cache_is_empty(spark)
    # the distributed branch keeps exactly its last label round (the
    # frame `out` reads); the driver branch keeps nothing
    left = _persistent_ids(spark) - before
    assert len(left) == (0 if driver_threshold else 1)


def test_lsh_and_jaccard_leave_no_cache_entry(spark, empty_cache):
    e = _embeddings(spark)
    crawl = e.filter(F.col("vec_id") % 10 != 0)
    ref = e.filter(F.col("vec_id") % 10 == 0)
    embedding_cross_neardup(crawl, ref, "vec_id", threshold=0.4).collect()
    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox sleeps"),
         (3, "an unrelated line of text")],
        "doc_id long, text string",
    )
    ngram_jaccard_pairs(d, "doc_id", shingle_n=3, threshold=0.2).collect()
    assert _cache_is_empty(spark)


def test_kmeans_fit_raising_mid_fit_leaves_no_pin(
    spark, empty_cache, monkeypatch
):
    e = _embeddings(spark)
    real = clustering._fit_quantized

    def failing(qdf, *args):
        real(qdf, *args)  # the fit's passes materialize the pin
        raise RuntimeError("mid-fit failure")

    monkeypatch.setattr(clustering, "_fit_quantized", failing)
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="mid-fit"):
        clustering.kmeans_fit(e, "embedding", "vec_id", k=4, n_updates=1)
    assert _persistent_ids(spark) - before == set()
    assert _cache_is_empty(spark)
