"""KMV (k-minimum-values) distinct-count sketches — mergeable
cardinality telemetry for corpus curation at scale.

A 100 TB pipeline constantly wants "how many distinct shingles /
tokens / urls does this source contribute?" — but an exact
count-distinct is a corpus-sized shuffle per question. The KMV sketch
(Bar-Yossef et al. 2002) keeps only the k smallest distinct hash
values per stratum: if the hashes are uniform on [0, 2^60), the kth
smallest value u_k estimates the distinct count as (k-1) * 2^60 / u_k,
with relative error ~1/sqrt(k). Crucially the sketch is MERGEABLE —
the k smallest of a union are a subset of the union of each side's k
smallest — so per-partition partials, per-day artifacts, and
cross-corpus unions all compose without rescanning anything.

House determinism contract: the hash is the md5 15-hex-char prefix
(u in [0, 2^60), the same md5-prefix semantics as the dedup
shinglers), the estimator is integer floor division (DECIMAL(38,0) on
Spark, HUGEINT in the SQL oracle), and tokenization is the shared
ASCII-\\s+ split — so Spark, this module's numpy kernel, and any ANSI
engine produce bit-identical sketches AND estimates. No reference
counterpart (kamu-cli has no sketch operators); Spark-first new ground
like k-means/BM25.

Plan shape (scale audit): ONE Arrow pass fuses tokenize -> shingle ->
hash -> per-partition top-k-distinct, emitting <= k rows per stratum
per partition (the corpus never materializes an exploded gram table);
the only shuffle carries |partitions| x |strata| x k rows — KB at any
corpus size. The final per-stratum merge is a WindowGroupLimit top-k
(map-side pruned). Estimation is a |strata|-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kamu_cli_spark.operators.util import pin, spread

_HASH_SPAN = 1 << 60  # md5 15-hex-prefix range


def _topk_distinct(rows: DataFrame, strata_col: str, k: int) -> DataFrame:
    """(stratum, u) -> the k smallest DISTINCT u per stratum. Input is
    sketch-sized (partials or a union of sketches), never the corpus;
    the rank filter compiles to WindowGroupLimit, so even this small
    input is pruned map-side before the exchange."""
    w = Window.partitionBy(strata_col).orderBy(F.col("u").asc())
    return (
        rows.select(strata_col, "u")
        .distinct()
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(strata_col, "u")
    )


def kmv_shingle_sketch(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    k: int = 256,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-stratum KMV sketch of distinct text shingles: (stratum, u)
    rows, at most k per stratum, u ascending = the k smallest distinct
    60-bit shingle hashes. Null strata are excluded (the
    source_lm_influence convention)."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)
    out_schema = f"{strata_col} string, u long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running k-smallest-distinct per stratum for THIS partition —
        # bounded at k int64s per stratum no matter the partition size
        best: dict[str, np.ndarray] = {}
        memo: dict[str, int] = {}

        def h60(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                memo[g] = v
            return v

        for pdf in batches:
            per: dict[str, list[int]] = {}
            for s, txt in zip(pdf[strata_col], pdf[text_col]):
                if s is None:
                    continue
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if len(toks) < shingle_n:
                    continue
                lst = per.setdefault(s, [])
                for j in range(len(toks) - shingle_n + 1):
                    lst.append(h60(" ".join(toks[j : j + shingle_n])))
            for s, hs in per.items():
                fresh = np.unique(np.asarray(hs, dtype=np.int64))
                cur = best.get(s)
                merged = fresh if cur is None else np.union1d(cur, fresh)
                best[s] = merged[:k]
        if best:
            yield pd.DataFrame(
                {
                    strata_col: np.repeat(
                        list(best), [len(v) for v in best.values()]
                    ),
                    "u": np.concatenate(list(best.values())),
                }
            )

    partials = spread(df.select(strata_col, text_col)).mapInPandas(
        kernel, out_schema
    )
    return _topk_distinct(partials, strata_col, k)


def kmv_merge(
    a: DataFrame, b: DataFrame, strata_col: str = "source", k: int = 256
) -> DataFrame:
    """Union two sketches into the sketch of the UNION of their inputs
    — exact, not approximate: the k smallest distinct hashes of A ∪ B
    are computable from each side's k smallest (property pinned in
    tests against a from-scratch sketch of the concatenated corpus)."""
    return _topk_distinct(a.unionByName(b), strata_col, k)


def kmv_estimate(
    sketch: DataFrame, strata_col: str = "source", k: int = 256
) -> DataFrame:
    """(stratum, n_sketch, kth_u, distinct_est) per stratum. A sketch
    holding fewer than k values saw fewer than k distinct inputs — the
    estimate is then EXACT (= n_sketch); otherwise the classic KMV
    estimator (k-1) * 2^60 / (u_k + 1), floor-divided in DECIMAL(38,0)
    so every engine lands on the same integer."""
    big = str((k - 1) * _HASH_SPAN)
    return (
        sketch.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.max("u").alias("kth_u"),
        )
        .withColumn(
            "distinct_est",
            F.when(F.col("n_sketch") < k, F.col("n_sketch")).otherwise(
                F.expr(
                    f"CAST(CAST('{big}' AS DECIMAL(38,0)) DIV"
                    " (kth_u + 1) AS BIGINT)"
                )
            ),
        )
        .select(strata_col, "n_sketch", "kth_u", "distinct_est")
    )


def kmv_pair_overlap(
    sketch: DataFrame, strata_col: str = "source", k: int = 256
) -> DataFrame:
    """Cross-stratum overlap telemetry FROM SKETCHES ALONE — for every
    unordered stratum pair (a < b), estimate the Jaccard similarity
    and distinct-intersection size of their shingle sets without ever
    joining the corpora (Beyer et al. 2007 / Bar-Yossef et al. 2002):
    the "how much does source A duplicate source B" question a 100 TB
    curation pipeline asks per ingest day, answered from the KB-sized
    per-day KMV artifacts the ledger already stores.

    Estimator (exact-integer end to end): S_U = the k smallest
    distinct hashes of S_a ∪ S_b — which IS the KMV sketch of the
    union, so `union_est` reuses the kmv_estimate formula — and for
    any u in S_U, membership in A is decided EXACTLY by u ∈ S_a (u is
    among the k smallest of the union, so a fortiori among the k
    smallest of A). Then jaccard_e6 = 1e6 * |S_U ∩ S_a ∩ S_b| DIV
    |S_U| and inter_est = (n_common * union_est) DIV n_union (error
    ~1/sqrt(k) on the Jaccard). Hash equality implies shingle
    equality up to md5-prefix collisions (~2^-60, the house-wide
    caveat).

    Plan shape (scale audit): every frame here is SKETCH-sized — the
    pair table is a broadcast cross of the |strata| dimension
    (bounded by the sketch contract), the membership fold and the
    per-pair top-k (WindowGroupLimit) touch <= |pairs| x 2k rows.
    Nothing data-sized exists anywhere in the plan: the (KB-sized,
    <= k x |strata| row) sketch is materialized ONCE via
    localCheckpoint, because this operator consumes it three times —
    a lazy corpus-backed lineage would otherwise rescan the corpus
    per consumer (plan-pinned in tests)."""
    sketch = pin(sketch.select(strata_col, "u"))
    s = sketch.select(F.col(strata_col).alias("__s"), "u")
    strata = s.select(F.col("__s").alias("a")).distinct()
    pairs = F.broadcast(strata).crossJoin(
        F.broadcast(strata.select(F.col("a").alias("b")))
    ).filter(F.col("a") < F.col("b"))
    sides = [
        pairs.join(s, s["__s"] == F.col(side)).select(
            "a",
            "b",
            "u",
            F.lit(1 if side == "a" else 0).alias("in_a"),
            F.lit(0 if side == "a" else 1).alias("in_b"),
        )
        for side in ("a", "b")
    ]
    members = (
        sides[0]
        .unionByName(sides[1])
        .groupBy("a", "b", "u")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("a", "b").orderBy(F.col("u").asc())
    su = members.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )
    big = str((k - 1) * _HASH_SPAN)
    return (
        su.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_union_sketch"),
            F.max("u").alias("kth_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_common"),
        )
        .withColumn(
            "union_est",
            F.when(
                F.col("n_union_sketch") < k, F.col("n_union_sketch")
            ).otherwise(
                F.expr(
                    f"CAST(CAST('{big}' AS DECIMAL(38,0)) DIV"
                    " (kth_u + 1) AS BIGINT)"
                )
            ),
        )
        .withColumn(
            "jaccard_e6",
            F.expr("1000000 * n_common DIV n_union_sketch"),
        )
        .withColumn(
            "inter_est",
            # DECIMAL(38,0): n_common * union_est can exceed BIGINT
            # when the union sketch is degenerate (tiny kth_u)
            F.expr(
                "CAST(CAST(n_common AS DECIMAL(38,0)) * union_est"
                " DIV n_union_sketch AS BIGINT)"
            ),
        )
        .select(
            "a", "b", "n_union_sketch", "n_common",
            "jaccard_e6", "union_est", "inter_est",
        )
    )


def _cms_bucket_col(row_col, gram_col, width: int):
    """The shared CMS bucket hash as a JVM expression: first 32 md5
    bits of 'cms<row>|<gram>' mod width — identical in the Arrow
    kernel (hashlib) and any md5-capable SQL engine."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cms"),
                        row_col.cast("string"),
                        F.lit("|"),
                        gram_col,
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )


def cms_gram_sketch(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of word n-gram
    OCCURRENCE counts: (row, bucket, cnt) rows, the depth x width
    counter matrix as a DataFrame. Counters are additive, so the
    sketch MERGES by summation (:func:`cms_merge`) — per-partition
    partials, per-day artifacts, and cross-corpus unions all compose
    without rescans, the same composition story as the KMV sketch.

    Estimates (min over rows of the gram's bucket counter,
    :func:`cms_probe`) are exact-integer and NEVER undercount; they
    overcount by hash-collision mass, bounded by corpus_grams / width
    per row with probability 1 - 2^-depth.

    Plan shape (scale audit): ONE fused Arrow pass (tokenize -> n-gram
    -> depth dense int64 counter arrays per partition, a fixed
    depth*width*8-byte buffer regardless of partition size); the only
    shuffle carries <= |partitions| x depth x width bounded partial
    rows (KB-MB at any corpus size); ONE bounded aggregate sums them.
    The corpus never materializes an exploded gram table."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if n < 1 or depth < 1 or width < 1:
        raise ValueError(
            f"cms_gram_sketch: n/depth/width must be >= 1 "
            f"(got n={n}, depth={depth}, width={width})"
        )
    ws = re.compile(r"\s+", re.ASCII)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = np.zeros((depth, width), dtype=np.int64)
        # gram -> its depth buckets; md5 runs once per DISTINCT gram
        # per partition (the KMV-kernel memo pattern)
        memo: dict[str, list[int]] = {}

        def buckets(g: str) -> list[int]:
            v = memo.get(g)
            if v is None:
                v = [
                    int(
                        hashlib.md5(f"cms{r}|{g}".encode()).hexdigest()[:8],
                        16,
                    )
                    % width
                    for r in range(depth)
                ]
                memo[g] = v
            return v

        for pdf in batches:
            grams: list[str] = []
            for txt in pdf[text_col]:
                toks = [t for t in ws.split((txt or "").lower()) if t]
                grams.extend(
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                )
            if not grams:
                continue
            # fold occurrences to per-distinct counts FIRST so the
            # hash/increment loop runs per distinct gram, not per
            # occurrence (a 2-gram corpus repeats its head grams
            # millions of times)
            uniq, cnts = np.unique(
                np.asarray(grams, dtype=object), return_counts=True
            )
            for g, c in zip(uniq, cnts):
                ci = int(c)
                for r, b in enumerate(buckets(g)):
                    counters[r, b] += ci
        rows, cols = np.nonzero(counters)
        if len(rows):
            yield pd.DataFrame(
                {
                    "row": rows.astype(np.int32),
                    "bucket": cols.astype(np.int64),
                    "cnt": counters[rows, cols],
                }
            )

    partials = spread(df.select(text_col)).mapInPandas(
        kernel, "row int, bucket long, cnt long"
    )
    return partials.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sum two CMS sketches (same depth/width) — exactly the sketch of
    the concatenated corpora (counter additivity; pinned in tests)."""
    return (
        a.unionByName(b).groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )


def cms_probe(
    sketch: DataFrame,
    probes: DataFrame,
    gram_col: str = "gram",
    depth: int = 4,
    width: int = 4096,
    validate: bool = True,
) -> DataFrame:
    """Estimate each probe gram's occurrence count from the sketch:
    est = min over rows of counter[bucket_r(gram)], entirely IN-PLAN
    (no driver artifact): probes x depth bucket expressions, one
    broadcast-friendly equi join against the bounded sketch, a
    min aggregate. Probe grams the corpus never saw estimate 0.
    Probe columns ride through to the output; the names ``cnt``,
    ``__r`` and ``__bucket`` are reserved for the join plumbing.

    ``validate`` (default True) raises if depth/width disagree with
    the sketch's actual geometry: probing a depth-d sketch with a
    larger depth makes the extra rows miss the join and min()
    silently return 0 — INVERTING the never-undercount guarantee —
    and a width mismatch rehashes grams into the wrong buckets. Every
    gram increments one counter per row, so any non-empty sketch has
    mass in all rows: max(row)+1 == true depth. Width can only be
    bounded from below (max(bucket) < width is necessary, not
    sufficient), so an equal-width contract remains on the caller.
    The check is eager, so the (KB-sized, <= depth x width row)
    sketch is materialized ONCE via localCheckpoint and the probe
    join reads the checkpoint — the corpus behind a lazy sketch
    lineage is still scanned exactly once, not once per consumer
    (cost parity with validate=False pinned in the bench floors).
    Pass ``validate=False`` to keep the probe fully lazy/in-plan
    (hot loops that already checked, or a sketch you materialized
    yourself)."""
    reserved = {"cnt", "__r", "__bucket"} & set(probes.columns)
    if reserved:
        raise ValueError(
            f"cms_probe: probe columns {sorted(reserved)} collide with "
            "the sketch-join plumbing; rename them first"
        )
    if validate:
        sketch = pin(sketch)
        geo = sketch.agg(
            F.max("row").alias("mr"), F.max("bucket").alias("mb")
        ).head()
        if geo["mr"] is not None:  # empty sketch = sketch of empty corpus
            if int(geo["mr"]) + 1 != depth:
                raise ValueError(
                    f"cms_probe: depth={depth} but the sketch has "
                    f"{int(geo['mr']) + 1} counter rows — probing with "
                    "the wrong depth silently undercounts"
                )
            if int(geo["mb"]) >= width:
                raise ValueError(
                    f"cms_probe: width={width} but the sketch has a "
                    f"bucket index {int(geo['mb'])} — width mismatch "
                    "rehashes grams into the wrong buckets"
                )
    rows = F.broadcast(
        sketch.sparkSession.range(depth).select(F.col("id").alias("__r"))
    )
    expanded = probes.crossJoin(rows).withColumn(
        "__bucket", _cms_bucket_col(F.col("__r"), F.col(gram_col), width)
    )
    return (
        expanded.join(
            sketch.withColumnRenamed("row", "__r").withColumnRenamed(
                "bucket", "__bucket"
            ),
            ["__r", "__bucket"],
            "left",
        )
        .groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


# --- HyperLogLog ------------------------------------------------------


def _hll_wbits(p: int) -> int:
    """Suffix width for a 60-bit hash split as p register-index bits +
    (60-p) rank bits. p <= 13 keeps the estimator's 2^(wbits+1)-scaled
    inverse-power sums inside BIGINT (m * 2^(wbits+1) <= 2^61)."""
    if not 4 <= p <= 13:
        raise ValueError(f"hll: p must be in [4, 13], got {p}")
    return 60 - p


def hll_shingle_sketch(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    p: int = 12,
    shingle_n: int = 3,
    engine: str = "arrow",
) -> DataFrame:
    """Per-stratum HyperLogLog sketch (Flajolet et al. 2007) of
    distinct text shingles: (stratum, register, rho) rows — for each
    of the m = 2^p registers that saw at least one shingle, the max
    leading-zero rank observed. The KMV sketch's sibling with the
    opposite trade: KMV keeps k exact hash VALUES (mergeable by
    top-k, supports exact below-k counts), HLL keeps a FIXED m-bounded
    register file whose size never grows with k or skew and merges by
    simple per-register max — the shape that composes per-day
    artifacts at 100 TB with a bounded, data-independent state.

    House determinism contract: the same md5 15-hex-char prefix hash
    as the KMV/dedup shinglers (u in [0, 2^60)); register = top p
    bits, rho = 1-based position of the first 1-bit in the remaining
    60-p bits (60-p+1 when all zero) — exact integers end to end, so
    both engines below and any md5-capable ANSI engine produce
    bit-identical register files (equality pinned in tests). No
    reference counterpart (kamu-cli has no sketch operators);
    Spark-first new ground like KMV/CMS.

    ``engine`` (both produce identical rows):

    - ``"arrow"`` (default, the scale path): ONE fused mapInPandas
      pass — tokenize, shingle, memoized md5 per DISTINCT gram per
      partition, and an m-byte register file per stratum updated in
      place; only the nonzero registers leave the worker. The
      profiled all-JVM plan spent ~90% of its sf10 time materializing
      the exploded gram strings (15 of 16.5 s; md5+rho were ~1.5 s),
      the same reason the KMV/CMS kernels are fused: 19.7 -> ~2 s at
      sf10.
    - ``"sql"``: ZERO Python — tokenize/shingle as array expressions
      under whole-stage codegen, explode feeding a map-side partial
      max. The cross-engine-auditable form (it IS the oracle SQL's
      plan) and the fallback where Python workers are unavailable.

    Plan shape (scale audit, either engine): the corpus-sized gram
    stream never shuffles; the only exchange carries
    <= |partitions| x |strata| x m bounded rows (m = 4096 at the
    default p=12: ~KB)."""
    wbits = _hll_wbits(p)
    if shingle_n < 1:
        raise ValueError(f"hll: shingle_n must be >= 1, got {shingle_n}")
    if engine not in ("arrow", "sql"):
        raise ValueError(f"hll: engine must be 'arrow' or 'sql', got {engine!r}")
    if engine == "arrow":
        return _hll_sketch_arrow(df, strata_col, text_col, p, shingle_n)
    t = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: x != F.lit(""),
    )
    nsh = F.size(t) - (shingle_n - 1)
    grams = F.when(
        nsh >= 1,
        F.transform(
            F.sequence(F.lit(1), nsh),
            lambda i: F.concat_ws(" ", F.slice(t, i, shingle_n)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return (
        spread(
            df.filter(F.col(strata_col).isNotNull()).select(
                strata_col, text_col
            )
        )
        .select(F.col(strata_col), F.explode(grams).alias("gram"))
        .select(
            strata_col,
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("u"),
        )
        .selectExpr(
            strata_col,
            f"u DIV {1 << wbits} AS register",
            f"u % {1 << wbits} AS w",
        )
        .selectExpr(
            strata_col,
            "register",
            f"CASE WHEN w = 0 THEN {wbits + 1} "
            f"ELSE instr(lpad(bin(w), {wbits}, '0'), '1') END AS rho",
        )
        .groupBy(strata_col, "register")
        .agg(F.max("rho").cast("int").alias("rho"))
    )


def _hll_sketch_arrow(
    df: DataFrame,
    strata_col: str,
    text_col: str,
    p: int,
    shingle_n: int,
) -> DataFrame:
    """The fused Arrow pass behind hll_shingle_sketch(engine='arrow'):
    per-partition m-byte register files (rho <= 49 fits uint8) with
    md5 memoized per distinct gram — the KMV-kernel memo pattern —
    then the same bounded partial-max exchange as the SQL form."""
    import hashlib
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    wbits = 60 - p
    m, mask = 1 << p, (1 << wbits) - 1
    ws = re.compile(r"\s+", re.ASCII)
    out_schema = f"{strata_col} string, register bigint, rho int"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        regs: dict[str, np.ndarray] = {}
        # gram -> (register << 6 | rho) packed int (rho <= 49 < 64);
        # md5 runs once per DISTINCT gram per partition, and the
        # per-occurrence cost is one dict lookup + list append (the
        # KMV-kernel memo pattern, int-encoded so the fold below is a
        # vectorized int64 unique, not a string sort)
        memo: dict[str, int] = {}

        def packed(g: str) -> int:
            v = memo.get(g)
            if v is None:
                u = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                w = u & mask
                rho = (wbits + 1) if w == 0 else wbits - w.bit_length() + 1
                v = ((u >> wbits) << 6) | rho
                memo[g] = v
            return v

        for pdf in batches:
            per: dict[str, list[int]] = {}
            for s, txt in zip(pdf[strata_col], pdf[text_col]):
                if s is None:
                    continue
                toks = [t for t in ws.split((txt or "").lower()) if t]
                if len(toks) < shingle_n:
                    continue
                lst = per.setdefault(s, [])
                lst.extend(
                    packed(" ".join(toks[j : j + shingle_n]))
                    for j in range(len(toks) - shingle_n + 1)
                )
            for s, vals in per.items():
                r = regs.get(s)
                if r is None:
                    r = regs[s] = np.zeros(m, dtype=np.uint8)
                uniq = np.unique(np.asarray(vals, dtype=np.int64))
                np.maximum.at(
                    r, uniq >> 6, (uniq & 63).astype(np.uint8)
                )
        for s, r in regs.items():
            nz = np.flatnonzero(r)
            if len(nz):
                yield pd.DataFrame(
                    {
                        strata_col: s,
                        "register": nz.astype(np.int64),
                        "rho": r[nz].astype(np.int32),
                    }
                )

    partials = spread(
        df.filter(F.col(strata_col).isNotNull()).select(strata_col, text_col)
    ).mapInPandas(kernel, out_schema)
    return partials.groupBy(strata_col, "register").agg(
        F.max("rho").cast("int").alias("rho")
    )


def hll_merge(a: DataFrame, b: DataFrame, strata_col: str = "source") -> DataFrame:
    """Per-register max of two HLL register files (same p) — exactly
    the sketch of the concatenated corpora (max is idempotent and
    commutative, so re-observed data changes nothing; pinned in tests
    against a from-scratch sketch of the union)."""
    return (
        a.unionByName(b)
        .groupBy(strata_col, "register")
        .agg(F.max("rho").cast("int").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame, strata_col: str = "source", p: int = 12
) -> DataFrame:
    """Distinct-count estimate per stratum from an HLL register file:
    the classic alpha_m * m^2 / sum(2^-rho_j) harmonic estimator with
    the standard small-range (linear-counting) correction when empty
    registers remain and the raw estimate is <= 2.5m. Relative error
    ~1.04/sqrt(m) (~1.6% at p=12).

    Determinism: the inverse-power sum is EXACT-INTEGER — every
    register contributes 2^(wmax - rho) (absent registers rho=0
    contribute 2^wmax), scaled by wmax = 60-p+1 so the per-stratum
    total stays in BIGINT — and the only float steps are one division
    (the constant numerator alpha*m^2*2^wmax is folded to a single
    double literal) and the correction's ln, then a floor(x+0.5)
    round. Cross-engine disagreement would need a score within ~1 ulp
    of a rounding boundary.

    Output: (stratum, n_registers, zeros, inv_sum_scaled,
    est_distinct) — a |strata|-row aggregate of the bounded sketch."""
    wbits = _hll_wbits(p)
    m, wmax = 1 << p, wbits + 1
    numer = (0.7213 / (1.0 + 1.079 / m)) * m * m * float(1 << wmax)
    agg = sketch.groupBy(strata_col).agg(
        F.count("*").cast("long").alias("n_registers"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {wmax} - rho)")
        ).alias("__present_inv"),
    )
    zeros = F.lit(m) - F.col("n_registers")
    inv = (zeros * F.lit(1 << wmax) + F.col("__present_inv")).cast("bigint")
    raw = F.lit(numer) / F.col("inv_sum_scaled")
    corrected = F.when(
        (F.col("zeros") > 0) & (raw <= F.lit(2.5 * m)),
        F.lit(m) * F.log(F.lit(m) / F.col("zeros")),
    ).otherwise(raw)
    return (
        agg.select(
            strata_col,
            "n_registers",
            zeros.cast("long").alias("zeros"),
            inv.alias("inv_sum_scaled"),
        )
        .withColumn(
            "est_distinct",
            F.floor(corrected + F.lit(0.5)).cast("long"),
        )
    )
