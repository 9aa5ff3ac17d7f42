"""Distributed k-means over embedding columns (Lloyd's algorithm).

The iterative-ML pattern the LLM-data pipeline needs for IVF index
training and SemDeDup-style semantic dedup: cluster the corpus
embeddings, then curate within clusters. No reference counterpart
(kamu-cli has no ML operators); the design follows Spark MLlib's
KMeans shape — broadcast centroids, map-side assignment, one
map-side-combined shuffle per update whose reduce side is k·dim rows.

Engine-portable determinism (the DuckDB oracle reproduces every bit):

- embeddings quantize ONCE to int64 micro-units (floor(x·1e6 + 0.5),
  the same e6 idiom as vector_stats) — all distances and centroid
  updates are exact integer arithmetic, so there is no float-summation
  order to drift between engines;
- seeds are the k smallest ids' vectors; ties in assignment break to
  the lowest centroid id (strictly ordered (dist, cid));
- centroid update is floor(sum/count + 0.5) per dimension — the Spark
  side computes it in exact integer math at ANY size; the SQL twin's
  double division is exact while per-cluster dim-sums stay under 2^53
  (~2.2e9 rows per cluster at |x| ≤ 4), the binding constraint on
  oracle parity beyond that scale, not on the operator;
- a cluster that goes empty simply stops competing (no re-seeding),
  the same rule the SQL twin gets for free.

Scale audit (100 TB): per update, assignment is a pure map (k·dim
literal expression, no join); the update shuffle carries only the
map-side-combined (cluster, dim) partial sums — k·dim rows per map
task. The only driver traffic is k·dim centroid values per iteration
(bounded by construction, never by data). The quantized projection is
persisted across iterations so the source scans once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from kamu_cli_spark.operators.util import pin, pinned, release, widen_if_narrow

E6 = 1_000_000


def quantize_e6(vec_col: str) -> "F.Column":
    """array<float> -> array<bigint> in exact e6 micro-units
    (floor(x·1e6 + 0.5), round-half-up — identical in DuckDB)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * E6 + F.lit(0.5)).cast("bigint"),
    )


def _sq_dist_e12(qe_col: str, centroid: list[int]) -> "F.Column":
    """Exact squared L2 distance (e12 units) between the quantized
    vector column and one literal centroid. dim·(2·4e6)² ≈ 4e15 per
    64-dim vector — far inside int64."""
    lit_c = F.array(*[F.lit(int(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(F.col(qe_col), lit_c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


#: Above this many k*dim literals the JVM expression tree stops being
#: a win: task binaries grow to MBs and codegen chokes (measured: k=64,
#: dim=64 -> 4.9 MiB binaries and a 5x slowdown at sf1). Larger
#: centroid sets score in an Arrow pass with the same exact int64 math.
MAX_LITERAL_CELLS = 1024


def _assign(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Add (cluster, dist_e12): argmin of exact distances over the
    live centroids, ties to the lowest cid. Small centroid sets score
    JVM-side as literal expressions; large ones via an Arrow batch
    matmul (exact int64 either way, identical results)."""
    if len(cents) * len(cents[0][1]) > MAX_LITERAL_CELLS:
        return _assign_arrow(qdf, cents)
    dists = F.array(*[_sq_dist_e12("__qe", c) for _, c in cents])
    cids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    idx = F.array_position(dists, F.array_min(dists))
    return qdf.withColumn("dist_e12", F.array_min(dists)).withColumn(
        "cluster", F.element_at(cids, idx.cast("int"))
    )


def _assign_arrow(
    qdf: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """Arrow scorer for large centroid sets: ||x||² - 2x·C + ||c||² in
    int64 (exact — diffs² ≤ 6.4e13, ×dim ≤ 4e15, far inside int64);
    np.argmin takes the FIRST min = lowest cid, the same tie-break as
    the literal path. Centroids ride the closure (k·dim int64 — the
    same bounded payload the driver already carried)."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    # float64 is EXACT here, and buys BLAS: products ≤ (4e6)² = 1.6e13
    # and dim-sums ≤ 4e15, both under 2^53 — every intermediate is an
    # exactly-representable integer, so the matmul result equals the
    # int64 fold bit-for-bit after the astype back.
    C = np.array([v for _, v in cents], dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    # bound-pruning structure for large k (EXACT — see _argmin_block);
    # built once driver-side, rides the closure like C itself
    grp = _build_pruning_groups(C)

    # Emit WITHOUT the vector column: round-tripping __qe back through
    # Arrow costs ~8·dim bytes/row (1 GB at sf100 — measured 200 s of
    # the pass); the assignment itself is 12 bytes/row.
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in qdf.schema.fields
        if f.name != "__qe"
    )
    out_schema = f"{fields}, dist_e12 bigint, cluster int"
    keep = [f.name for f in qdf.schema.fields if f.name != "__qe"]

    chunk = _score_chunk_rows(
        len(cids) if grp is None else max(len(grp[3]), max(m.size for m in grp[3]))
    )
    argmin = _argmin_block

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["__qe"].to_numpy()).astype(np.float64)
            x_sq_all = (X * X).sum(axis=1)
            best = np.empty(len(pdf), dtype=np.int64)
            dist = np.empty(len(pdf), dtype=np.float64)
            for s in range(0, len(pdf), chunk):  # cap the distance matrix
                e = min(s + chunk, len(pdf))
                best[s:e], dist[s:e] = argmin(
                    X[s:e], x_sq_all[s:e], C, c_sq, grp
                )
            out = pdf[keep].copy()
            out["dist_e12"] = dist.astype(np.int64)
            out["cluster"] = cids[best].astype(np.int32)
            yield out

    return qdf.mapInPandas(score, out_schema)


def _score_chunk_rows(k: int) -> int:
    """Rows per scoring chunk so the rows×k float64 distance matrix
    stays ~32 MB regardless of centroid count."""
    return max(64, (1 << 22) // max(1, k))


#: From this many centroids on, the Arrow scorer routes through the
#: bound-pruned two-level structure below. The hierarchy is EXACT — it
#: is a triangle-inequality pruning of the same flat argmin, never an
#: approximate router — so this is purely a cost knob: below it the
#: flat rows×k BLAS matmul is already cheap and the per-group masking
#: overhead isn't worth it.
HIER_MIN_K = 64


def _build_pruning_groups(C: "np.ndarray"):  # noqa: ANN201 (numpy tuple)
    """Driver-side pruning structure over the centroid MATRIX (rows
    ordered by ascending cid): ~√k groups from a small deterministic
    Lloyd run over the centroids themselves, plus per-group
    representative, squared norm and covering radius.

    Used by :func:`_argmin_block` to make assignment O(n·√k) instead of
    O(n·k) while returning the bit-identical flat argmin: a group whose
    triangle-inequality lower bound ``(‖x−rep‖ − radius)²`` exceeds the
    current best distance cannot contain the winner (nor an equal-
    distance tie, thanks to a conservative slack on the bound), so its
    members are never scored. This is the fit-side counterpart of the
    IVF family's supercentroid routing (similarity.py) — but exact,
    because Lloyd's update semantics (and the DuckDB oracle replay) are
    defined on the full argmin. Cost: O(k·√k·iters) driver-side — for
    the SemDeDup recipe's k≈n/300 this is ~n/300·√k work ONCE vs n·k
    work per pass saved on the cluster."""
    import numpy as np

    k, dim = C.shape
    if k < HIER_MIN_K:
        return None
    G = max(2, int(np.ceil(np.sqrt(k))))
    # deterministic spread init: every ⌈k/G⌉-th centroid in cid order
    reps = C[np.linspace(0, k - 1, G).astype(np.int64)].copy()
    assign = None
    for _ in range(4):
        rep_sq = (reps * reps).sum(axis=1)
        d = (
            (C * C).sum(axis=1)[:, None]
            - 2.0 * (C @ reps.T)
            + rep_sq[None, :]
        )
        assign = np.argmin(d, axis=1)
        for g in range(G):
            m = assign == g
            if m.any():  # empty group: rep stays (deterministic)
                reps[g] = C[m].mean(axis=0)
    rep_sq = (reps * reps).sum(axis=1)
    d = (
        (C * C).sum(axis=1)[:, None]
        - 2.0 * (C @ reps.T)
        + rep_sq[None, :]
    )
    assign = np.argmin(d, axis=1)
    members = []
    radii = []
    keep_reps = []
    for g in range(G):
        m = np.nonzero(assign == g)[0]  # ascending index = ascending cid
        if m.size == 0:
            continue
        members.append(m)
        # covering radius, nudged up so float sqrt error can only widen
        radii.append(float(np.sqrt(max(d[m, g].max(), 0.0))) * (1 + 1e-12))
        keep_reps.append(g)
    reps = reps[keep_reps]
    return reps, (reps * reps).sum(axis=1), np.array(radii), members


def _argmin_block(X, x_sq, C, c_sq, grp):
    """Exact lexicographic argmin over centroid rows for a block of
    rows: returns (best_idx, best_dist) with ties broken to the lowest
    row index (= lowest cid, rows are cid-ordered). All arithmetic is
    exact-integer-in-float64 (products ≤ 1.6e13, sums ≤ 4e15 — under
    2^53), so == comparisons and the returned distances are exact.

    With ``grp`` (from :func:`_build_pruning_groups`) the scan is
    two-level: score the row's nearest group's members for an upper
    bound, then score only groups whose conservative lower bound
    ``(‖x−rep‖−radius)² − slack`` does not exceed it. Groups containing
    an equal-distance tie always survive the prune (the slack is
    strictly positive), so tie-breaks match the flat path bit-for-bit.
    """
    import numpy as np

    n = X.shape[0]
    if grp is None:
        d = x_sq[:, None] - 2.0 * (X @ C.T) + c_sq[None, :]
        best = np.argmin(d, axis=1)
        return best, d[np.arange(n), best]

    reps, rep_sq, radii, members = grp
    dg = x_sq[:, None] - 2.0 * (X @ reps.T) + rep_sq[None, :]
    np.maximum(dg, 0.0, out=dg)
    lb = np.sqrt(dg) - radii[None, :]
    np.maximum(lb, 0.0, out=lb)
    lb2 = lb * lb
    # conservative slack: sqrt/matmul float error is ulp-scale (≤1e-12
    # relative at these magnitudes); subtracting 1e-9·lb2 + 16 means a
    # group is pruned only when its true minimum strictly exceeds the
    # current best — equal-distance ties always get scored.
    lb2 -= lb2 * 1e-9 + 16.0
    nearest = np.argmin(dg, axis=1)
    best_dist = np.full(n, np.inf)
    best_idx = np.zeros(n, dtype=np.int64)
    rows_all = np.arange(n)
    # pass 1: the nearest group's members give a tight upper bound
    for g in range(len(members)):
        rows = rows_all[nearest == g]
        if rows.size == 0:
            continue
        M = members[g]
        d = x_sq[rows, None] - 2.0 * (X[rows] @ C[M].T) + c_sq[M][None, :]
        j = np.argmin(d, axis=1)  # first min = lowest cid in group
        best_dist[rows] = d[np.arange(rows.size), j]
        best_idx[rows] = M[j]
    # pass 2: any other group whose lower bound can still win or tie
    for g in range(len(members)):
        rows = rows_all[(lb2[:, g] <= best_dist) & (nearest != g)]
        if rows.size == 0:
            continue
        M = members[g]
        d = x_sq[rows, None] - 2.0 * (X[rows] @ C[M].T) + c_sq[M][None, :]
        j = np.argmin(d, axis=1)
        dm = d[np.arange(rows.size), j]
        cand = M[j]
        upd = (dm < best_dist[rows]) | (
            (dm == best_dist[rows]) & (cand < best_idx[rows])
        )
        r = rows[upd]
        best_dist[r] = dm[upd]
        best_idx[r] = cand[upd]
    return best_idx, best_dist


def _update_arrow(
    qdf: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """One Lloyd update as a fused Arrow pass: assign each batch with
    the exact float64 scorer (see :func:`_assign_arrow` for the 2^53
    argument), accumulate per-(cluster, dim) sums and counts across
    the partition, and emit ≤ k·dim partial rows — the map-side
    combine is explicit, so the exchange carries k·dim rows per
    partition instead of n·dim exploded rows. Partition sums stay
    exact: ≤ rows_per_partition · 4e6 ≪ 2^53 even at
    maxPartitionBytes-sized 100 TB partitions."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents], dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    k, dim = C.shape
    grp = _build_pruning_groups(C)  # EXACT bound-pruned scan for big k

    chunk = _score_chunk_rows(
        k if grp is None else max(len(grp[3]), max(m.size for m in grp[3]))
    )
    argmin = _argmin_block

    def upd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = np.zeros((k, dim), dtype=np.float64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["__qe"].to_numpy()).astype(np.float64)
            x_sq_all = (X * X).sum(axis=1)
            for s in range(0, len(pdf), chunk):  # cap the distance matrix
                e = min(s + chunk, len(pdf))
                best, _ = argmin(X[s:e], x_sq_all[s:e], C, c_sq, grp)
                np.add.at(sums, best, X[s:e])
                cnts += np.bincount(best, minlength=k)
        live = np.nonzero(cnts)[0]
        yield pd.DataFrame(
            {
                "cluster": np.repeat(cids[live], dim).astype(np.int32),
                "pos": np.tile(np.arange(dim, dtype=np.int32), len(live)),
                "s": sums[live].reshape(-1).astype(np.int64),
                "c": np.repeat(cnts[live], dim),
            }
        )

    return (
        qdf.mapInPandas(upd, "cluster int, pos int, s bigint, c bigint")
        .groupBy("cluster", "pos")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_updates: int = 2,
) -> list[tuple[int, list[int]]]:
    """Fit centroids only: `n_updates` Lloyd updates from the
    k-smallest-id seeds, returned as (cid, e6-int vector) pairs —
    the model artifact :func:`kmeans_apply` scores against (including
    on STREAMS, where a fit is impossible but scoring is a pure map)."""
    if k < 1:
        raise ValueError("k must be positive")
    if n_updates < 0:
        raise ValueError("n_updates must be non-negative")
    # Widen BEFORE pinning: every pass is compute-bound (O(k·dim)
    # per row), and a 512 MB parquet scans into ~6 partitions — the
    # k=6400 updates ran 6-wide on 32 cores until this. At real scale
    # the scan already yields thousands of partitions and the widen is
    # a no-op; the decision reads Catalyst stats, not the RDD (see
    # util.widen_if_narrow).
    qdf = widen_if_narrow(
        df.select(F.col(id_col), quantize_e6(vec_col).alias("__qe")),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    with pinned(qdf, StorageLevel.MEMORY_AND_DISK, eager=False) as qdf:
        return _fit_quantized(qdf, id_col, k, n_updates)


def _fit_quantized(
    qdf: DataFrame, id_col: str, k: int, n_updates: int
) -> list[tuple[int, list[int]]]:
    """Lloyd fit over a pre-quantized (id, __qe) frame the CALLER owns
    (and should have pinned — every pass below re-reads it)."""
    seed_rows = qdf.orderBy(id_col).limit(k).collect()  # bounded: k rows
    cents = [(i, list(r["__qe"])) for i, r in enumerate(seed_rows)]
    for _ in range(n_updates):
        if not cents:
            break
        # fused Arrow assign+partial-sum pass: each partition emits
        # <= k*dim partial rows (the posexplode formulation shuffled
        # n*dim rows — 12.8M at sf10, 14.8 s; this pass: <1 s)
        parts = _update_arrow(qdf, cents).collect()  # bounded: k*dim
        by_cid: dict[int, dict[int, int]] = {}
        for r in parts:
            by_cid.setdefault(r["cluster"], {})[r["pos"]] = _round_half_up(
                int(r["s"]), int(r["c"])
            )
        cents = [
            (cid, [dims[p] for p in sorted(dims)])
            for cid, dims in sorted(by_cid.items())
        ]
    return cents


def kmeans_apply(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Score rows against FIXED centroids from :func:`kmeans_fit`:
    (id, cluster, dist_e12). Pure map (literal expressions or a
    stateless Arrow pass), so it runs identically on batch and
    STREAMING DataFrames — fit on the curated corpus, score the live
    crawl as it arrives."""
    # same widening as the fit: scoring is O(k·dim) per row, and a
    # narrow batch scan would run it 6-wide on 32 cores (streams keep
    # their micro-batch partitioning; widen_if_narrow passes them
    # through)
    qdf = widen_if_narrow(
        df.select(F.col(id_col), quantize_e6(vec_col).alias("__qe")),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    if not centroids:  # empty model: null assignment, same schema
        return qdf.select(
            id_col,
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("bigint").alias("dist_e12"),
        )
    return _assign(qdf, centroids).select(id_col, "cluster", "dist_e12")


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_updates: int = 2,
) -> DataFrame:
    """Fit + final assignment in one call: (id, cluster, dist_e12) —
    all exact int64, reproducible bit-for-bit across engines (the
    DuckDB oracle replays the iterations as chained CTEs)."""
    cents = kmeans_fit(df, vec_col, id_col, k, n_updates)
    return kmeans_apply(df, cents, vec_col, id_col)


def _round_half_up(s: int, c: int) -> int:
    """floor(s/c + 0.5) with exact integer math (matches the oracle's
    floor(s*1.0/c + 0.5) while staying exact beyond 2^53)."""
    # floor(s/c + 1/2) = floor((2s + c) / (2c)) for c > 0
    return (2 * s + c) // (2 * c)


def _block_pair_tasks(
    v: DataFrame,
    id_col: str,
    block_budget: int,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Fan a clustered frame out into block-pair tasks: each cluster of
    n_c rows splits into m = ⌈n_c/budget⌉ deterministic hash-blocks
    (``__blk``), and every row is replicated to the m unordered task
    keys (cluster, __ta, __tb) its block participates in — so every
    within-cluster row pair lands in EXACTLY ONE task (blocks a ≤ b),
    and a mega-cluster's O(n_c²) pair work spreads over m(m+1)/2 tasks
    instead of serializing into one. Clusters at or under the budget
    get m = 1: a single (c, 0, 0) task, zero replication — the
    pre-round-9 shape. Cluster sizes ride a broadcast join (≤ k rows);
    blocking is xxhash64(id) % m, deterministic but irrelevant to the
    result (any partition of rows into blocks covers the same pairs).
    """
    if sizes is None:
        sizes = v.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
    with_m = v.join(F.broadcast(sizes), "cluster").withColumn(
        "__m",
        F.ceil(F.col("__n") / F.lit(block_budget)).cast("int"),
    )
    with_blk = with_m.withColumn(
        "__blk",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("__m")).cast("int"),
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.col("__m") - 1),
        lambda y: F.struct(
            F.least(F.col("__blk"), y).cast("int").alias("a"),
            F.greatest(F.col("__blk"), y).cast("int").alias("b"),
        ),
    )
    return (
        with_blk.withColumn("__t", F.explode(pairs))
        .select(
            "cluster",
            F.col("__t.a").alias("__ta"),
            F.col("__t.b").alias("__tb"),
            F.col(id_col),
            "__ve",
            "__nrm",
            "__blk",
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_updates: int = 2,
    threshold: float = 0.25,
    round_digits: int = 6,
    block_budget: int = 8192,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means cluster
    the embedding corpus, then drop every row whose cosine similarity
    to a LOWER-id member of the SAME cluster clears `threshold`.
    Returns (id, cluster, kept). Pass `centroids` (a kmeans_fit /
    model_store.load_kmeans_model artifact) to score against a FIXED
    model instead of fitting — `k`/`n_updates` are then ignored, and
    the run is as-of reproducible from the ledger alone.

    Scale design: pairwise cosine runs within clusters only —
    O(Σ n_c²), never O(n²) — so `k` is the knob that bounds cluster
    size (k ≈ n / target_cluster_size; the paper uses n/100-ish).
    Candidate pairs come from a vectorized Arrow pass (blocked BLAS
    Gram, pruned with a 2-rounding-step margin like the IVF scorer —
    the margin also covers matmul-vs-fold ulp drift); the
    authoritative cosine is recomputed JVM-side with F.round so the
    oracle parity semantics are untouched. Ids must be integral and
    unique.

    De-skew (round-9): a cluster larger than `block_budget` rows is
    split into ⌈n_c/B⌉ hash-blocks and its pair work fans out as one
    task per UNORDERED BLOCK PAIR (m(m+1)/2 tasks covering every
    within-cluster pair exactly once), so one mega-cluster can no
    longer serialize the stage into a single O(n_c²) straggler. The
    split changes only scheduling — the union of pairs, and therefore
    the drop set, is identical — at the price of replicating each
    oversized cluster's rows m× into the exchange. Clusters at or
    under the budget keep the old one-task-per-cluster shape (m=1).
    Budget trade, measured at sf10 k=8 (25k-row clusters): 16384 →
    87.8 s, 8192 → 72.7 s, 4096 → 67.1 s locally — smaller blocks buy
    parallelism but replicate more rows into the exchange (m ∝ 1/B),
    which is the bytes that matter once the shuffle crosses a network
    fabric; 8192 is the middle of that trade, and the recipe shape
    (k ≈ n/300) never exceeds any of these budgets anyway."""
    from kamu_cli_spark.operators.similarity import norm, pair_dot

    import numpy as np
    import pandas as pd

    if centroids is not None and not centroids:
        # an absent/empty model from the store would pass `is not
        # None`, get NULL clusters from kmeans_apply, and silently
        # collapse the whole corpus into one O(n²) null-cluster
        # pairwise pass — refuse, mirroring save_kmeans_model's
        # refusal to commit an empty model (ADVICE r10).
        raise ValueError("semantic_dedup: centroids list is empty")
    # materialize the assignment ONCE: it appears twice in the
    # downstream plan (candidate pass, final join), and at large k each
    # lazy recompute re-scores the whole corpus (~50 s per pass at
    # sf100 k=6400). localCheckpoint stores only (id, cluster) — 12
    # bytes/row — and truncates the scoring lineage.
    if centroids is not None:
        assign = pin(
            kmeans_apply(df, centroids, vec_col, id_col).select(
                id_col, "cluster"
            )
        )
    else:
        # fit + final assignment over ONE pinned quantized frame:
        # kmeans_assign re-scanned and re-quantized the corpus for the
        # apply pass even though the fit had just pinned exactly those
        # vectors (r15 phase profile: the fit chain was 2.5 s of the
        # 4.4 s sf0.1 total; at scale the duplicate pass is a full
        # corpus scan). The eager pin right below materializes the
        # assignment while qdf is still pinned, so its release is safe.
        qdf = widen_if_narrow(
            df.select(F.col(id_col), quantize_e6(vec_col).alias("__qe")),
            df.sparkSession.sparkContext.defaultParallelism,
        )
        with pinned(qdf, StorageLevel.MEMORY_AND_DISK, eager=False) as qdf:
            cents = _fit_quantized(qdf, id_col, k, n_updates)
            if cents:
                assign = pin(_assign(qdf, cents).select(id_col, "cluster"))
            else:  # empty corpus: same null-assignment shape as apply
                assign = pin(
                    qdf.select(
                        id_col, F.lit(None).cast("int").alias("cluster")
                    )
                )
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__ve"),
        norm(F.col(vec_col)).alias("__nrm"),
    )
    v = base.join(assign, id_col)

    margin = 2.0 / 10.0**round_digits
    block = 1024
    # Compare RAW cosines against pre-computed cutoffs instead of
    # materializing the rounded matrix: round-half-up is monotone,
    # so rnd(c) >= y  <=>  c >= y - 0.5*10^-d for grid-aligned y —
    # the sign/floor/abs/mul temporaries were the dominant cost at
    # 625M-pair clusters (graded k=8 at sf10 timed out on them).
    # Cutoff-adjacent ulps land in the boundary band by design.
    half_step = 0.5 / 10.0**round_digits
    cut_cert = threshold + margin - half_step
    cut_band = threshold - margin - half_step

    def find_candidates(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # Per-task drop decisions, not pairs: a doc drops if ANY
        # lower-id member clears the threshold, so a cluster of m
        # mutual near-dups yields m-1 rows, never m²/2 (the pair
        # formulation emitted 999M rows at sf100). Pairs at least one
        # 2-step margin ABOVE the threshold cannot flip under the
        # JVM's rounding (numpy-vs-JVM raw drift is ulp-scale), so
        # they're emitted as certain single-witness rows; only pairs
        # inside the ±margin boundary band go to the exact JVM rescore.
        # key = (cluster, block_a, block_b): a == b is the triangle over
        # one block (and the whole cluster when it fit the budget);
        # a < b is the full A×B rectangle — every unordered
        # within-cluster pair lands in exactly one task.
        _, ta, tb = key
        blkv = pdf["__blk"].to_numpy()
        ids = pdf[id_col].to_numpy()
        vecs = pdf["__ve"].to_numpy()
        nrms = pdf["__nrm"].to_numpy()

        def side(mask):
            sid = ids[mask]
            if len(sid) == 0:
                # a rectangle task can receive zero rows for one hash
                # block (rows emit keys for every block of their
                # cluster even when a block is empty); vstack of an
                # empty selection raises, so return a typed (0, dim)
                # frame instead — the matmul loop degrades to no-ops
                return (
                    sid,
                    np.empty((0, len(vecs[0])), dtype=np.float64),
                    np.empty(0, dtype=np.float64),
                )
            order = np.argsort(sid, kind="stable")
            return (
                sid[order],
                np.vstack(vecs[mask][order]).astype(np.float64),
                nrms[mask][order].astype(np.float64),
            )

        out_cert: list[np.ndarray] = []
        bnd_a: list[np.ndarray] = []
        bnd_b: list[np.ndarray] = []
        if ta == tb:
            ids_s, X, nrm = side(np.ones(len(ids), dtype=bool))
            n = len(ids_s)
            certain = np.zeros(n, dtype=bool)
            for s in range(0, n, block):
                e = min(s + block, n)
                # Upper-triangle slice only: columns j <= s can never
                # satisfy i < j for rows in this block, so score X[s:]
                # onward — halves total pair work. BLAS matmul, NOT the
                # ascending-dim fold: margin + rescore make last-ulp
                # sum-order drift harmless, and dgemm is ~30x the
                # python dim loop.
                acc = X[s:e] @ X[s:].T
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / (nrm[s:e, None] * nrm[None, s:])
                lower = (
                    np.arange(s, e)[:, None] < np.arange(s, n)[None, :]
                )
                cert = (cos >= cut_cert) & lower
                certain[s:] |= cert.any(axis=0)
                band = (cos >= cut_band) & ~cert & lower
                ii, jj = np.nonzero(band)
                bnd_a.append(ids_s[ii + s])
                bnd_b.append(ids_s[jj + s])
            out_cert.append(ids_s[np.nonzero(certain)[0]])
        else:
            ids_a, XA, na = side(blkv == ta)
            ids_b, XB, nb = side(blkv == tb)
            cert_b = np.zeros(len(ids_b), dtype=bool)
            for s in range(0, len(ids_a), block):
                e = min(s + block, len(ids_a))
                acc = XA[s:e] @ XB.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / (na[s:e, None] * nb[None, :])
                # the rectangle holds every (A-row, B-row) pair once;
                # the DROPPED side is whichever id is larger
                a_lower = ids_a[s:e, None] < ids_b[None, :]
                cert = cos >= cut_cert
                cert_b |= (cert & a_lower).any(axis=0)
                out_cert.append(ids_a[s:e][(cert & ~a_lower).any(axis=1)])
                band = (cos >= cut_band) & ~cert
                ii, jj = np.nonzero(band)
                pa, pb = ids_a[ii + s], ids_b[jj]
                bnd_a.append(np.minimum(pa, pb))
                bnd_b.append(np.maximum(pa, pb))
            out_cert.append(ids_b[cert_b])
        # ida is meaningful only for boundary rows (the rescore join
        # key); certain rows carry their own id there, never read
        cj = np.concatenate(out_cert) if out_cert else np.array([], dtype=np.int64)
        ida = np.concatenate([cj] + bnd_a)
        idb = np.concatenate([cj] + bnd_b)
        flag = np.concatenate(
            [np.ones(len(cj), dtype=bool)]
            + [np.zeros(len(a), dtype=bool) for a in bnd_a]
        )
        return pd.DataFrame({"ida": ida, "idb": idb, "certain": flag})

    # cluster sizes come from the 12-byte/row checkpointed assignment,
    # NOT from v — an aggregate over v would re-run the full vector
    # join just to count rows per cluster
    tasks = _block_pair_tasks(
        v.select(id_col, "cluster", "__ve", "__nrm"),
        id_col,
        block_budget,
        sizes=assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n")),
    )
    cands = (
        tasks
        .groupBy("cluster", "__ta", "__tb")
        .applyInPandas(find_candidates, "ida bigint, idb bigint, certain boolean")
    )
    # rescore sides come from the PRE-join projection: candidate pairs
    # only reference assigned ids, so joining the assignment back in
    # would add two avoidable full-corpus joins
    va = base.select(
        F.col(id_col).alias("ida"),
        F.col("__ve").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    vb = base.select(
        F.col(id_col).alias("idb"),
        F.col("__ve").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    certain_drops = cands.filter(F.col("certain")).select(
        F.col("idb").alias(id_col)
    )
    boundary_drops = (
        cands.filter(~F.col("certain"))
        .join(va, "ida")
        .join(vb, "idb")
        .filter(
            F.round(
                pair_dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("idb").alias(id_col))
    )
    drops = (
        certain_drops.unionByName(boundary_drops)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return v.join(drops, id_col, "left").select(
        id_col,
        "cluster",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


def semantic_dedup_against(
    df: DataFrame,
    corpus: DataFrame,
    centroids: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.25,
    round_digits: int = 6,
) -> DataFrame:
    """Cross-corpus SemDeDup — the STREAMING twin of
    :func:`semantic_dedup` (round-9 VERDICT #7): keep only `df` rows
    that do NOT near-duplicate (rounded cosine ≥ `threshold`) any
    CORPUS member of their k-means cluster. `df` may be a batch frame
    or a live Structured-Streaming crawl: assignment against the fixed
    `centroids` (from :func:`kmeans_fit`, an offline artifact) is a
    pure map, and the drop is a stream-static LEFT ANTI equi-join on
    the cluster id with the cosine test as residual — both
    stream-legal, no watermark or state needed. Mirrors how
    cross_bloom got its stream twin (dedup.py), with clusters playing
    the bucket role so a row only ever meets its own cluster's corpus
    members, never the whole corpus.

    Returns `df`'s columns plus `cluster`. Id spaces are assumed
    disjoint (a live crawl vs a curated corpus). Dedup WITHIN `df`
    (stream-internal duplicates) is deliberately out of scope here —
    that is the batch flagship's job over the merged corpus, the same
    division of labor as dedup_against vs dedup_exact. For multi-batch
    streams, persist the corpus projection upstream or accept that the
    static side re-evaluates per micro-batch (corpus assignment is one
    map pass + a projection).

    Batch-equivalence contract (tested in tests/test_streaming_semdedup.py):
    with centroids fit on corpus ∪ slices, a corpus free of internal
    near-dups, and corpus ids below slice ids, the surviving slice ids
    equal exactly the `kept` slice ids of batch
    ``semantic_dedup(corpus ∪ slices)``."""
    from kamu_cli_spark.operators.similarity import dot, norm

    if not centroids:
        return df.withColumn("cluster", F.lit(None).cast("int"))
    cstat = kmeans_apply(corpus, centroids, vec_col, id_col).join(
        corpus.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
            norm(F.col(vec_col)).alias("__cn"),
        ),
        id_col,
    ).select("cluster", "__cv", "__cn")

    qdf = df.withColumn("__qe", quantize_e6(vec_col))
    assigned = (
        _assign(qdf, centroids)
        .drop("__qe", "dist_e12")
        .withColumn(
            "__dv", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .withColumn("__dn", norm(F.col(vec_col)))
    )
    # dot() is the JVM aggregate/zip_with fold, NOT the Arrow pair_dot
    # UDF: Spark rejects Python UDFs in the ON clause of an anti join,
    # and dim-ascending fold order is exactly the rounding-parity
    # semantics the batch flagship's JVM rescore uses.
    cond = (assigned["cluster"] == cstat["cluster"]) & (
        F.round(
            dot(assigned["__dv"], cstat["__cv"])
            / (assigned["__dn"] * cstat["__cn"]),
            round_digits,
        )
        >= threshold
    )
    return assigned.join(cstat, cond, "left_anti").drop("__dv", "__dn")


def cluster_quality(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_updates: int = 2,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Per-cluster quality audit — the "is k right / which clusters
    are mush" signal read before trusting SemDeDup/IVF stages built on
    a fit: for every non-empty cluster,

    - ``n_vecs``
    - ``radius_e12``: max within-cluster squared distance to the
      centroid (exact int, the assignment's own dist_e12)
    - ``sep_e12``: squared distance to the NEAREST other centroid
      (exact, computed from the bounded model — k^2·dim driver ints)
    - ``dunn_e3 = div(1000 * sep_e12, radius_e12)`` (0 for singleton
      clusters with radius 0) — the Dunn-style separation/compactness
      ratio; higher = tighter and better separated.

    Max/min aggregates everywhere, never a distance SUM — a sum of
    e12 squared distances overflows int64 around 1e5 vectors, while
    radius/separation stay bounded by one pair's distance at ANY
    corpus size. Pass `centroids` (a model_store load) to audit a
    ledger artifact as-of reproducibly; otherwise fits in-run with
    the family's exact seeds-and-updates procedure."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(df, vec_col, id_col, k=k, n_updates=n_updates)
    )
    if not cents:
        raise ValueError("cluster_quality: centroids list is empty")
    asg = kmeans_apply(df, cents, vec_col, id_col)
    per = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("dist_e12").alias("radius_e12"),
    )
    # nearest-other-centroid separation: exact ints on the bounded model
    sep_rows = []
    for cid, vec in cents:
        best = None
        for cid2, vec2 in cents:
            if cid2 == cid:
                continue
            d = sum((a - b) * (a - b) for a, b in zip(vec, vec2))
            best = d if best is None else min(best, d)
        sep_rows.append((int(cid), int(best) if best is not None else 0))
    spark = df.sparkSession
    sep = spark.createDataFrame(sep_rows, "cluster int, sep_e12 long")
    return (
        per.join(F.broadcast(sep), "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_vecs",
            "radius_e12",
            "sep_e12",
            F.when(
                F.col("radius_e12") > 0,
                F.expr("div(1000 * sep_e12, radius_e12)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dunn_e3"),
        )
    )


def kcenter_select(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Greedy k-center (farthest-point-traversal) diversity selection —
    pick k vectors that maximally cover the embedding space, the
    2-approximation to the NP-hard k-center objective (Gonzalez 1985).
    The curation use: choosing a maximally-diverse eval/finetune/seed
    subset, the opposite pole from SemDeDup's redundancy removal. No
    reference counterpart (kamu-cli has no vector operators);
    Spark-first new ground like k-means.

    Deterministic exact-int contract: vectors snap to e6 micro-units,
    distances are exact int64 squared-L2 (e12 units), the seed is the
    minimum id, and argmax ties break to the lowest id — so Spark and
    the unrolled-CTE SQL oracle agree to the bit.

    Plan shape (scale audit): the selection budget k is bounded by the
    caller (an eval set, a seed list — never data-sized), giving k
    iterations of {TakeOrderedAndProject top-1 (map-side pruned) +
    an incremental ``least(md, dist-to-newest)`` column update} over
    ONE pinned quantized scan — the kmeans/pagerank iterative
    shape, with localCheckpoint every 4 rounds to keep lineage O(1).
    Driver traffic is 1 row per iteration (the same bounded contract
    as BPE's merge loop). Output: (rank, id, dist_e12) — dist_e12 is
    the distance to the previously-selected set at selection time, the
    monotone non-increasing coverage-radius curve."""
    spark = df.sparkSession
    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    q = df.select(
        F.col(id_col).alias("id"), quantize_e6(vec_col).alias("__qe")
    )
    with pinned(q, eager=False) as q:
        seed = q.orderBy(F.col("id").asc()).limit(1).collect()
        if not seed:
            raise ValueError("kcenter_select: empty input")
        seed = seed[0]
        sel = [(1, int(seed["id"]), 0)]
        cur = q.withColumn("__md", _sq_dist_e12("__qe", list(seed["__qe"])))
        held: list[DataFrame] = []  # the latest round's pin
        try:
            for rank in range(2, k + 1):
                far = cur.orderBy(
                    F.col("__md").desc(), F.col("id").asc()
                ).limit(1).collect()
                if not far:
                    break
                far = far[0]
                sel.append((rank, int(far["id"]), int(far["__md"])))
                cur = cur.withColumn(
                    "__md",
                    F.least(
                        F.col("__md"), _sq_dist_e12("__qe", list(far["__qe"]))
                    ),
                )
                if rank % 4 == 0:
                    cur = pin(cur)
                    release(*held)
                    held = [cur]
        finally:
            release(*held)
        return spark.createDataFrame(
            sel, "rank bigint, vec_id bigint, dist_e12 bigint"
        )


def kcenter_select_batch(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    ell: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Greedy k-center with OVER-SAMPLED batch acceptance — the scale
    path past tens of centers. :func:`kcenter_select` costs one full
    scan + 2 jobs per center, so a 1,000-sample diverse eval set is
    1,000 scans; this variant collects the top-``ell`` farthest
    candidates per distributed pass (k-means||-style over-sampling,
    Bahmani et al. 2012) and then accepts as many of them as provably
    safe DRIVER-side, so k centers take ~k/accepted-per-pass scans.

    BIT-IDENTICAL to the exact greedy, not an approximation. The
    safety argument: the batch is the global top-``ell`` by current
    min-distance, so every point OUTSIDE the batch has md <= md_ell
    (the ell-th candidate's md), and md only shrinks as centers are
    added. Driver-side we re-run the exact greedy WITHIN the batch
    (exact int64 math on the collected vectors) and keep accepting
    while the batch argmax md is STRICTLY greater than md_ell — at
    that point no outside point can be the true argmax (outside md <=
    md_ell < batch argmax), and strictness protects the lowest-id
    tie-break (an outside point tied AT md_ell could out-rank a batch
    member by id). The pass's FIRST pick is always safe: no center
    has been added since the distributed sort, so batch[0] is the
    exact global argmax under (md DESC, id ASC). When the collect
    returns fewer than ``ell`` rows the batch IS the corpus remainder
    and the threshold vanishes. Equivalence is pinned in tests at
    multiple k.

    Per-pass cost: one TakeOrderedAndProject over the pinned
    quantized scan (ell bounded rows to the driver) + one md update
    against the accepted centers — JVM literal ``least`` chain while
    accepted*dim <= MAX_LITERAL_CELLS, else ONE Arrow pass (exact
    float64-integer math, same kernel argument as _assign_arrow) —
    + an eager localCheckpoint to keep lineage O(1).

    ``ell`` defaults to ``max(64, 4k)`` capped at 2048: big enough
    that tens-to-hundreds of accepts survive the threshold per pass,
    small enough that the driver payload (ell x dim int64) stays ~MB.
    Pass counts are geometry-dependent: on a corpus with near-dup
    clusters each accepted center collapses its clones' md to ~0, so
    duplicates eat batch slots and more passes run (measured: k=256 in
    10 passes on sf1's 200k distinct-ish vectors, 37 on sf10's
    10x-replicated 2M). Pass ``stats={}`` to get ``stats["passes"]``
    (distributed pass count) back — the bench receipt telemetry.
    """
    import numpy as np

    spark = df.sparkSession
    if k < 1:
        raise ValueError("kcenter_select_batch: k must be >= 1")
    if ell is None:
        ell = min(2048, max(64, 4 * k))
    elif ell < 1:
        raise ValueError("kcenter_select_batch: ell must be >= 1")
    q = df.select(
        F.col(id_col).alias("id"), quantize_e6(vec_col).alias("__qe")
    )
    held: list[DataFrame] = []  # the latest pass's pin
    with pinned(q, eager=False) as q:
        try:
            seed = q.orderBy(F.col("id").asc()).limit(1).collect()
            if not seed:
                raise ValueError("kcenter_select_batch: empty input")
            seed = seed[0]
            sel = [(1, int(seed["id"]), 0)]
            cur = q.withColumn(
                "__md", _sq_dist_e12("__qe", list(seed["__qe"]))
            )
            dim = len(seed["__qe"])

            def _md_update(
                frame: DataFrame, vecs: list[list[int]]
            ) -> DataFrame:
                if len(vecs) * dim <= MAX_LITERAL_CELLS:
                    return frame.withColumn(
                        "__md",
                        F.least(
                            F.col("__md"),
                            *[_sq_dist_e12("__qe", v) for v in vecs],
                        ),
                    )
                # one Arrow pass: exact — every intermediate is an integer
                # under 2^53 (see _assign_arrow), so float64 matmul equals
                # the int64 fold bit-for-bit. __qe round-trips through
                # Arrow here (unlike _assign_arrow's slim output) because
                # later passes still need the vectors.
                import pandas as pd
                from collections.abc import Iterator

                C = np.array(vecs, dtype=np.float64)
                c_sq = (C * C).sum(axis=1)
                schema = frame.schema

                def upd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        X = np.vstack(pdf["__qe"].to_numpy()).astype(np.float64)
                        d = (
                            (X * X).sum(axis=1)[:, None]
                            - 2.0 * (X @ C.T)
                            + c_sq[None, :]
                        ).min(axis=1)
                        pdf["__md"] = np.minimum(
                            pdf["__md"].to_numpy(), d.astype(np.int64)
                        )
                        yield pdf

                return frame.mapInPandas(upd, schema)

            passes = 0
            while len(sel) < k:
                passes += 1
                batch = cur.orderBy(
                    F.col("__md").desc(), F.col("id").asc()
                ).limit(ell).collect()
                if not batch:
                    break
                ids = np.array([int(r["id"]) for r in batch], dtype=np.int64)
                vecs = np.array(
                    [list(r["__qe"]) for r in batch], dtype=np.int64
                )
                md = np.array([int(r["__md"]) for r in batch], dtype=np.int64)
                threshold = int(md[-1]) if len(batch) == ell else -1
                accepted: list[list[int]] = []
                first = True
                while len(sel) < k:
                    i = int(np.lexsort((ids, -md))[0])
                    if not first and not md[i] > threshold:
                        break
                    first = False
                    sel.append((len(sel) + 1, int(ids[i]), int(md[i])))
                    accepted.append([int(v) for v in vecs[i]])
                    diff = vecs - vecs[i]
                    md = np.minimum(md, (diff * diff).sum(axis=1))
                if len(sel) >= k:
                    break  # done — skip a useless distributed md update
                cur = pin(_md_update(cur, accepted))
                release(*held)
                held = [cur]
            if stats is not None:
                stats["passes"] = passes
            return spark.createDataFrame(
                sel, "rank bigint, vec_id bigint, dist_e12 bigint"
            )
        finally:
            release(*held)
