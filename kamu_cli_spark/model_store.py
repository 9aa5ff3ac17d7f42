"""Fitted-model lifecycle on the ODF ledger — models are DATA.

A fitted k-means model (the centroid table from
:func:`~kamu_cli_spark.operators.clustering.kmeans_fit`) is committed
to a dataset with snapshot-CDC semantics keyed on the centroid id:
each refit is one poll, so version history, Merkle verification,
provenance and as-of time travel all apply to MODELS exactly as to any
other dataset — "which model scored this batch" is reproducible from
the ledger alone, the same property ingest gets from the chain. No
reference counterpart (kamu-cli has no ML operators); this composes
the writer/CDC machinery (writer.py, operators/merge.py) with the
clustering family. Centroids are e6-quantized int64 vectors, so the
round trip is EXACT — a loaded model scores bit-identically to the
in-memory one (asserted in tests/test_model_store.py).

Scale note: a model is k·dim int64 cells — bounded by construction,
never by data — so the collect in :func:`load_kmeans_model` is the
same bounded driver traffic kmeans_fit already carries per iteration.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from kamu_cli_spark.dataset import Dataset
from kamu_cli_spark.operators.merge import MergeStrategySnapshot, project_changelog
from kamu_cli_spark.operators.util import pinned
from kamu_cli_spark.writer import DataWriter

MODEL_SCHEMA = "cid int, centroid array<bigint>"


def kmeans_model_df(
    spark: SparkSession, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Centroid list -> (cid, centroid) frame in the model schema."""
    return spark.createDataFrame(
        [(int(cid), [int(v) for v in vec]) for cid, vec in centroids],
        MODEL_SCHEMA,
    )


def save_kmeans_model(
    spark: SparkSession,
    dataset: Dataset,
    centroids: list[tuple[int, list[int]]],
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit a fitted model as one snapshot poll of `dataset` (PK =
    cid): new centroids append, moved centroids emit -C/+C corrections,
    centroids absent from the refit emit -R retractions — the standard
    CDC alphabet, so every downstream CDC consumer (projections,
    streams, as-of readers) works on models unchanged."""
    if not centroids:
        raise ValueError("refusing to commit an empty model")
    w = DataWriter(dataset, MergeStrategySnapshot(["cid"]))
    return w.write(
        spark,
        kmeans_model_df(spark, centroids),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_kmeans_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> list[tuple[int, list[int]]]:
    """Load the model's LATEST state (or the state as of a pinned block
    hash — time travel over model versions): changelog → state by cid,
    retractions dropped, corrections superseding — then collected as
    the (cid, vector) list kmeans_apply/semantic_dedup_against consume.
    The collect is k·dim ints, bounded by the model, never the data."""
    df = dataset.read(spark, as_of)
    if df is None:
        return []
    state = project_changelog(df, ["cid"], dataset.vocab)
    rows = state.select("cid", "centroid").collect()  # bounded: k rows
    return [(int(r["cid"]), list(r["centroid"])) for r in sorted(rows, key=lambda r: r["cid"])]


BLOOM_SCHEMA = "word_idx bigint, word bigint, n_bits bigint, n_hashes int"


def save_bloom_model(
    spark: SparkSession,
    dataset: Dataset,
    words: DataFrame,
    n_bits: int,
    n_hashes: int,
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit a Bloom bitmap (:func:`~kamu_cli_spark.operators.dedup.
    bloom_bit_words` output) as one snapshot poll of `dataset` (PK =
    word_idx): a re-derived bitmap appends new words, changes emit
    -C/+C corrections, vanished words emit -R — so the
    decontamination / cross-dedup prefilter becomes an as-of
    reproducible ledger artifact like any ingested table. The sizing
    params ride along as constant columns (parquet RLE makes them
    free) because membership REQUIRES the same n_bits/n_hashes the
    bitmap was built with. The frame is ≤ n_bits/62 rows by
    construction — bounded by the filter, never the reference data —
    and is written/read fully distributed (no driver collect)."""
    _check = words.columns
    if set(_check) != {"word_idx", "word"}:
        raise ValueError(
            f"expected bloom_bit_words output (word_idx, word), got {_check}"
        )
    w = DataWriter(dataset, MergeStrategySnapshot(["word_idx"]))
    return w.write(
        spark,
        words.select(
            "word_idx",
            "word",
            F.lit(int(n_bits)).cast("bigint").alias("n_bits"),
            F.lit(int(n_hashes)).cast("int").alias("n_hashes"),
        ),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_bloom_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> tuple[DataFrame | None, int, int]:
    """(words, n_bits, n_hashes) at the latest state (or as-of a
    pinned block): `words` is the (word_idx, word) frame
    :func:`~kamu_cli_spark.operators.dedup.bloom_membership` consumes,
    still distributed; only ONE row reaches the driver (the constant
    sizing params). Returns (None, 0, 0) for an empty/absent model."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None, 0, 0
    state = project_changelog(df, ["word_idx"], dataset.vocab)
    first = state.select("n_bits", "n_hashes").limit(1).collect()
    if not first:
        return None, 0, 0
    return (
        state.select("word_idx", "word"),
        int(first[0]["n_bits"]),
        int(first[0]["n_hashes"]),
    )


NGRAM_LM_COLUMNS = ["w1", "w2", "pair_n", "ctx_n", "cond_e6"]


def save_ngram_lm_model(
    spark: SparkSession,
    dataset: Dataset,
    model: DataFrame,
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit a bigram LM (:func:`~kamu_cli_spark.operators.text.
    ngram_lm_fit` output) as one snapshot poll of `dataset` (PK =
    (w1, w2)): a refit on a revised reference corpus appends new
    bigrams, re-estimated probabilities emit -C/+C corrections, and
    bigrams absent from the refit emit -R — the curation pipeline's
    stage-1b quality gate (CCNet-style) becomes as-of reproducible
    from the ledger like the k-means/Bloom/IVF artifacts. The model is
    exact integers (pair_n, ctx_n, cond_e6 rationals), so the round
    trip scores bit-identically (tests/test_model_store_r11.py).
    Unlike the centroid models the LM stays DISTRIBUTED end to end —
    vocabulary-sized, written and read with no driver collect."""
    if set(model.columns) != set(NGRAM_LM_COLUMNS):
        raise ValueError(
            f"expected ngram_lm_fit output {NGRAM_LM_COLUMNS}, got {model.columns}"
        )
    if not model.head(1):
        raise ValueError("refusing to commit an empty ngram LM")
    w = DataWriter(dataset, MergeStrategySnapshot(["w1", "w2"]))
    return w.write(
        spark,
        model.select(*NGRAM_LM_COLUMNS),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_ngram_lm_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> DataFrame | None:
    """The LM's latest state (or as-of a pinned block) as the
    (w1, w2, pair_n, ctx_n, cond_e6) frame
    :func:`~kamu_cli_spark.operators.text.ngram_lm_score` consumes —
    still distributed; nothing reaches the driver. None if absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["w1", "w2"], dataset.vocab)
    return state.select(*NGRAM_LM_COLUMNS)


BPE_COLUMNS = ["rank", "left", "right", "pair_count"]


def save_bpe_model(
    spark: SparkSession,
    dataset: Dataset,
    merges: DataFrame,
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit a learned BPE merge table
    (:func:`~kamu_cli_spark.operators.bpe.bpe_fit` output) as one
    snapshot poll of `dataset` (PK = rank): re-inducing the tokenizer
    on a revised corpus emits -C/+C corrections where a rank's winning
    pair changed and -R/+A where the merge count changed — so "which
    tokenizer counted these tokens" is as-of reproducible from the
    ledger, like the k-means/Bloom/IVF/LM artifacts. Bounded by
    n_merges rows; strings + exact ints round-trip bit-identically."""
    if set(merges.columns) != set(BPE_COLUMNS):
        raise ValueError(
            f"expected bpe_fit output {BPE_COLUMNS}, got {merges.columns}"
        )
    if not merges.head(1):
        raise ValueError("refusing to commit an empty BPE model")
    w = DataWriter(dataset, MergeStrategySnapshot(["rank"]))
    return w.write(
        spark,
        merges.select(*BPE_COLUMNS),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_bpe_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> DataFrame | None:
    """The merge table's latest state (or as-of a pinned block) as the
    (rank, left, right, pair_count) frame
    :func:`~kamu_cli_spark.operators.bpe.bpe_apply` consumes. None if
    absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["rank"], dataset.vocab)
    return state.select(*BPE_COLUMNS)


IVF_SCHEMA = "level int, cid int, centroid array<double>"


def ivf_model_df(
    spark: SparkSession, levels: list[list[list[float]]]
) -> DataFrame:
    """Nested per-level centroid lists -> (level, cid, centroid)."""
    rows = [
        (lvl, cid, [float(x) for x in vec])
        for lvl, cents in enumerate(levels)
        for cid, vec in enumerate(cents)
    ]
    return spark.createDataFrame(rows, IVF_SCHEMA)


def save_ivf_model(
    spark: SparkSession,
    dataset: Dataset,
    levels: list[list[list[float]]],
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit an IVF cell model — one or more LEVELS of centroid
    vectors (a flat seeded index is one level; a hierarchy is several)
    — as a snapshot poll keyed on (level, cid). float64 survives the
    parquet round trip bit-for-bit, so a reloaded model re-scores
    identically (tests/test_model_store_r10.py); cell counts are
    ~√n per level, the same driver-bounded size ivf_ann_seeded already
    collects per run."""
    if not levels or not any(levels):
        raise ValueError("refusing to commit an empty IVF model")
    w = DataWriter(dataset, MergeStrategySnapshot(["level", "cid"]))
    return w.write(
        spark,
        ivf_model_df(spark, levels),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_ivf_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> list[list[list[float]]]:
    """The per-level centroid lists at the latest state (or as-of a
    pinned block), each level ordered by cid — exactly what
    ``ivf_ann_seeded(seed_vectors=levels[0])`` consumes. The collect
    is bounded by the model (~√n vectors/level), never the corpus."""
    df = dataset.read(spark, as_of)
    if df is None:
        return []
    state = project_changelog(df, ["level", "cid"], dataset.vocab)
    rows = state.select("level", "cid", "centroid").collect()
    out: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        out.setdefault(int(r["level"]), []).append(
            (int(r["cid"]), list(r["centroid"]))
        )
    return [
        [vec for _, vec in sorted(out[lvl], key=lambda t: t[0])]
        for lvl in sorted(out)
    ]


PCA_SCHEMA = "axis int, component array<double>"


def pca_model_df(
    spark: SparkSession, components: list[list[float]]
) -> DataFrame:
    """Principal-axis list -> (axis, component) frame, axis = rank
    order (0 = largest eigenvalue)."""
    return spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in enumerate(components)],
        PCA_SCHEMA,
    )


def save_pca_model(
    spark: SparkSession,
    dataset: Dataset,
    components: list[list[float]],
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit fitted principal axes
    (:func:`~kamu_cli_spark.operators.vector_stats.pca_components`
    output) as one snapshot poll of `dataset` (PK = axis): a refit on
    new data emits -C/+C corrections per rotated axis, so "which
    projection produced these features" is as-of reproducible from the
    ledger like the k-means/Bloom/IVF/LM/BPE artifacts. Bounded by
    k·dim doubles; float64 round-trips bit-identically through
    parquet, so a loaded model projects bit-identically (asserted in
    tests/test_model_store_r11.py)."""
    if not components:
        raise ValueError("refusing to commit an empty PCA model")
    w = DataWriter(dataset, MergeStrategySnapshot(["axis"]))
    return w.write(
        spark,
        pca_model_df(spark, components),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_pca_model(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> list[list[float]]:
    """The axes at the latest state (or as-of a pinned block), ordered
    by rank — exactly what
    :func:`~kamu_cli_spark.operators.vector_stats.pca_project`
    consumes. The collect is k rows, bounded by the model."""
    df = dataset.read(spark, as_of)
    if df is None:
        return []
    state = project_changelog(df, ["axis"], dataset.vocab)
    rows = state.select("axis", "component").collect()  # bounded: k rows
    return [
        list(r["component"])
        for r in sorted(rows, key=lambda r: int(r["axis"]))
    ]


BM25_SCHEMA = "term string, dfreq bigint, n_docs bigint, s_tokens bigint"


def bm25_stats_df(spark: SparkSession, stats: dict) -> DataFrame:
    """:func:`~kamu_cli_spark.operators.retrieval.bm25_corpus_stats`
    dict -> (term, dfreq, n_docs, s_tokens) frame. The corpus-wide
    scalars ride along as constant columns (parquet RLE makes them
    free) because scoring REQUIRES the same N/S the df counts were
    measured against — the Bloom model's n_bits/n_hashes pattern."""
    n, s = int(stats["n_docs"]), int(stats["s_tokens"])
    return spark.createDataFrame(
        [(t, int(d), n, s) for t, d in sorted(stats["dfreq"].items())],
        BM25_SCHEMA,
    )


def save_bm25_stats(
    spark: SparkSession,
    dataset: Dataset,
    stats: dict,
    system_time: Any = None,
    source_event_time: Any = None,
) -> dict:
    """Commit BM25 corpus statistics
    (:func:`~kamu_cli_spark.operators.retrieval.bm25_corpus_stats`
    output — the one fitted artifact that was still a transient Python
    dict) as one snapshot poll of `dataset` (PK = term): a re-fit on a
    fresh corpus snapshot appends new query terms, re-counted document
    frequencies emit -C/+C corrections, dropped terms emit -R — so
    "which corpus statistics scored this crawl batch" is as-of
    reproducible from the ledger like the k-means/Bloom/IVF/LM/BPE/PCA
    artifacts. Everything is exact integers; the round trip scores
    bit-identically (tests/test_model_store_bm25.py)."""
    if not stats.get("dfreq"):
        raise ValueError("refusing to commit empty BM25 stats")
    w = DataWriter(dataset, MergeStrategySnapshot(["term"]))
    return w.write(
        spark,
        bm25_stats_df(spark, stats),
        system_time=system_time,
        source_event_time=source_event_time,
    )


def load_bm25_stats(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> dict | None:
    """The stats at the latest state (or as-of a pinned block) as the
    dict :func:`~kamu_cli_spark.operators.retrieval.bm25_score`
    consumes. The collect is |query vocabulary| rows, bounded by the
    query set, never the corpus. None if absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["term"], dataset.vocab)
    rows = state.select("term", "dfreq", "n_docs", "s_tokens").collect()
    if not rows:
        return None
    return {
        "n_docs": int(rows[0]["n_docs"]),
        "s_tokens": int(rows[0]["s_tokens"]),
        "dfreq": {r["term"]: int(r["dfreq"]) for r in rows},
    }


KMV_SCHEMA = "source string, u bigint"


def save_kmv_sketch(
    spark: SparkSession,
    dataset: Dataset,
    sketch: DataFrame,
    system_time: Any = None,
    source_event_time: Any = None,
    if_empty: str = "raise",
) -> dict | None:
    """Commit a KMV distinct sketch
    (:func:`~kamu_cli_spark.operators.sketches.kmv_shingle_sketch`
    output) as one snapshot poll of `dataset` (PK = (source, u) — a
    sketch is a SET of hash values, so a re-sketch appends new members
    and retracts displaced ones; there is nothing to correct). Sketch
    datasets are the cheap mergeable telemetry artifact: yesterday's
    ledger state unions with today's partial via
    :func:`~kamu_cli_spark.operators.sketches.kmv_merge` without
    rescanning yesterday's corpus, and as-of reads answer "how diverse
    was this source LAST month" from the chain alone.

    ``if_empty`` controls the empty-sketch case: ``"raise"`` (default,
    the batch contract — an empty re-sketch is almost always a caller
    bug) or ``"skip"`` — return None without committing, the mode a
    streaming foreachBatch sink MUST use: a micro-batch of
    shingle-free docs yields an empty partial, and raising inside
    foreachBatch kills the whole stream (the round-13 flaky-test
    mechanism; tests/test_kmv_sketch.py pins the guard)."""
    return _save_sketch(
        spark, dataset, sketch, ["source", "u"], ["source", "u"],
        system_time, source_event_time, if_empty,
    )


def _save_sketch(
    spark: SparkSession,
    dataset: Dataset,
    sketch: DataFrame,
    cols: list[str],
    pk: list[str],
    system_time: Any,
    source_event_time: Any,
    if_empty: str,
) -> dict | None:
    """The KMV/CMS/HLL savers' one commit: check the sketch's columns,
    then commit it as one snapshot poll keyed on `pk`."""
    if if_empty not in ("raise", "skip"):
        raise ValueError(f"if_empty must be 'raise' or 'skip', got {if_empty!r}")
    if set(sketch.columns) != set(cols):
        raise ValueError(
            f"expected ({', '.join(cols)}) sketch rows, "
            f"got {sorted(sketch.columns)}"
        )
    # the incremental pattern merges the LEDGER's own state with a
    # fresh partial, so the input's lineage reads the dataset being
    # written — pin the (KB-sized) sketch first or the snapshot diff
    # re-evaluates it against files the commit is concurrently
    # replacing (tests/test_kmv_sketch.py pins this). Released once
    # the commit has written its slice.
    with pinned(sketch.select(*cols)) as sketch:
        if not sketch.head(1):
            if if_empty == "skip":
                return None
            raise ValueError("refusing to commit an empty sketch")
        return DataWriter(dataset, MergeStrategySnapshot(pk)).write(
            spark,
            sketch,
            system_time=system_time,
            source_event_time=source_event_time,
        )


def load_kmv_sketch(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> DataFrame | None:
    """The sketch's latest state (or as-of a pinned block) as the
    (source, u) frame kmv_merge/kmv_estimate consume — still
    distributed; k x |strata| rows never touch the driver. None if
    absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["source", "u"], dataset.vocab)
    return state.select("source", "u")


def save_cms_sketch(
    spark: SparkSession,
    dataset: Dataset,
    sketch: DataFrame,
    system_time: Any = None,
    source_event_time: Any = None,
    if_empty: str = "raise",
) -> dict | None:
    """Commit a count-min sketch
    (:func:`~kamu_cli_spark.operators.sketches.cms_gram_sketch`
    output) as one snapshot poll of `dataset` (PK = (row, bucket),
    compare column cnt — a re-sketch CORRECTS drifted counters, the
    CDC semantics counters want). Same telemetry economics as the KMV
    dataset: yesterday's ledger state sums with today's partial via
    :func:`~kamu_cli_spark.operators.sketches.cms_merge` without
    rescanning yesterday's corpus, and as-of reads answer "how often
    did this gram occur THROUGH last month" from the chain alone.

    ``if_empty``: ``"raise"`` (default, batch contract) or ``"skip"``
    — return None without committing. Streaming foreachBatch sinks
    MUST use ``"skip"``: a micro-batch containing only gram-free docs
    yields an empty partial sketch, and raising inside foreachBatch
    kills the stream (the round-13 flaky-test mechanism;
    tests/test_cms.py pins the guard with a forced gram-free first
    micro-batch)."""
    return _save_sketch(
        spark, dataset, sketch, ["row", "bucket", "cnt"], ["row", "bucket"],
        system_time, source_event_time, if_empty,
    )


def save_hll_sketch(
    spark: SparkSession,
    dataset: Dataset,
    sketch: DataFrame,
    system_time: Any = None,
    source_event_time: Any = None,
    if_empty: str = "raise",
) -> dict | None:
    """Commit a HyperLogLog register file
    (:func:`~kamu_cli_spark.operators.sketches.hll_shingle_sketch`
    output) as one snapshot poll of `dataset` (PK = (source,
    register), compare column rho — a re-sketch CORRECTS a register
    whose max rank grew, exactly the CDC semantics a max-register
    sketch wants). Same telemetry economics as the KMV/CMS datasets:
    yesterday's ledger state maxes with today's partial via
    :func:`~kamu_cli_spark.operators.sketches.hll_merge` without
    rescanning yesterday's corpus. ``if_empty``: ``"raise"``
    (default) or ``"skip"`` — streaming foreachBatch sinks MUST use
    ``"skip"`` (a shingle-free micro-batch yields an empty partial;
    raising inside foreachBatch kills the stream)."""
    return _save_sketch(
        spark, dataset, sketch, ["source", "register", "rho"],
        ["source", "register"], system_time, source_event_time, if_empty,
    )


def load_hll_sketch(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> DataFrame | None:
    """The register file's latest state (or as-of a pinned block) as
    the (source, register, rho) frame hll_merge/hll_estimate consume
    — still distributed; <= |strata| x 2^p rows never touch the
    driver. None if absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["source", "register"], dataset.vocab)
    return state.select("source", "register", "rho")


def load_cms_sketch(
    spark: SparkSession,
    dataset: Dataset,
    as_of: str | None = None,
) -> DataFrame | None:
    """The sketch's latest state (or as-of a pinned block) as the
    (row, bucket, cnt) frame cms_merge/cms_probe consume — still
    distributed; depth x width rows never touch the driver. None if
    absent."""
    df = dataset.read(spark, as_of)
    if df is None:
        return None
    state = project_changelog(df, ["row", "bucket"], dataset.vocab)
    return state.select("row", "bucket", "cnt")
