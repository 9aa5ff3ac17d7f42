"""Graph centrality over distributed edge lists — exact-integer
PageRank, the iterative-algorithm pattern alongside k-means.

Engine-portable determinism (the DuckDB oracle replays every
iteration as a chained CTE, like the k-means twin):

- ranks live in e6 micro-units as int64 (r0 = 1_000_000 per node);
- each node's per-edge contribution is integer floor division
  ``rank // out_degree`` (Spark ``div``, DuckDB ``//`` — identical on
  non-negative ints);
- damping 0.85 is the exact rational 17/20:
  ``r' = 150_000 + (17 * inflow) // 20`` — no float ever enters, so
  there is no summation-order or rounding drift between engines;
- dangling inflow (a node with out-edges only) coalesces to 0, giving
  the standard ``(1-d)`` base rank.

Scale shape (100 TB): per iteration one shuffle of contributions
keyed by destination (map-side combined sum) plus one join back to
the node list; edges and degrees are computed once and persisted
DISK_ONLY — the in-memory store's unrolled row objects are several×
the serialized size and, combined with 32 concurrent hash-agg tasks,
heap-OOMed the 8g local JVM on the sf100 (600M-edge) run; sequential
disk re-reads of the compact serialized form cost ~nothing next to
the per-iteration shuffle. The per-iteration edge join is hinted
sort-merge for the same reason (see inline note).
Driver traffic is zero — ranks stay distributed (unlike k-means,
whose model is small by construction). Companion to
``connected_components`` (operators/dedup.py); no reference
counterpart (kamu-cli has no graph operators).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from kamu_cli_spark.operators.util import pin, pinned, release

E6 = 1_000_000
BASE_E6 = 150_000  # (1 - 17/20) · 1e6

#: Above this many distinct directed edges, pagerank_int switches to
#: per-iteration checkpoint + shuffle reaping (disk-bounded regime);
#: below it, iterations stay lazy -- per-iteration materialization (a
#: job + a full System.gc each) measured 1.5-1.8x slower at sf1/sf10
#: for zero benefit. At the threshold the lazy shape keeps roughly
#: 3 iterations x ~7 GB of shuffle files alive (~25 GB), inside any
#: reasonable executor scratch; the sf100 graph (1.17B edges) pays the
#: checkpoint tax and stays disk-bounded instead of disk-unbounded.
LOW_FOOTPRINT_EDGES = 300_000_000

#: At or below this many nodes, the per-iteration joins broadcast the
#: rank/contribution frames (16-24 B/row: 2M nodes ~ a few-hundred-MB
#: hash relation, inside the 8 GB/512M-row broadcast cap with headroom)
#: instead of merge-hinted sort-merge — the rank table is the SMALL
#: side of both joins by construction, and SMJ was re-sorting the full
#: edge list every iteration just to avoid a broadcast that fits. Past
#: the bound (sf100's 16M-node graph) the merge-hinted SMJ shape that
#: was measured there is kept unchanged. Cost-based per run from the
#: materialized node count, never a static hint (VERDICT r13 #4
#: pattern).
BROADCAST_MAX_NODES = 2_000_000

#: In the lazy (non-checkpointing) regime, every unrolled iteration
#: nests ANOTHER nodes-sized BroadcastExchange inside the final plan,
#: and all of them are live simultaneously while the single job runs —
#: memory grows linearly with `iterations` (~100-200 MB per iteration
#: at the 2M-node cap, pinned on the driver and every executor). Past
#: this many total broadcast rows (nodes × iterations) the broadcast
#: regime checkpoints each iteration instead, which truncates the
#: lineage so at most one rank broadcast is live at a time. At the
#: default iterations=3 the bound only binds past ~2.6M nodes — i.e.
#: the benched small-graph shape (one final checkpoint) is unchanged.
BROADCAST_UNROLL_MAX_RANK_ROWS = 8_000_000

#: Below this many edges, the per-iteration System.gc nudge is skipped:
#: the nudge exists to delete GB-scale orphaned shuffle/checkpoint files
#: mid-job (see _reap_shuffles), but a full GC on an 8g heap costs
#: 0.3-1 s — at small-graph scale (per-iteration files are MBs) that
#: nudge was 30-50% of pagerank_int_converged's wall time and the files
#: are harmless until natural GC or session end reclaims them.
REAP_MIN_EDGES = 5_000_000


@contextmanager
def _prepared_graph(
    edges: DataFrame, src: str, dst: str
) -> Iterator[tuple[DataFrame, DataFrame, int]]:
    """``with _prepared_graph(...) as (ed, nodes, n_edges)``: ed =
    distinct edges with out-degree attached, hash-partitioned by __s,
    pinned DISK_ONLY; nodes = the distinct node ids, pinned lazily
    DISK_ONLY. Both pins are released on exit, so a caller's result
    must be materialized inside the block. Design constraints learned
    on the sf100 run (1.17B edges, single box):

    - ONE exchange builds ed: repartition by __s happens FIRST, and
      hashpartitioning(__s) satisfies the clustering the dedup
      (dropDuplicates on (__s,__d)) and the degree window both
      require — Catalyst inserts no further exchange for either. The
      naive distinct-then-join shape shuffled the full edge list three
      times, and shuffle files live for the WHOLE job: at sf100 that
      filled the disk before the heap mattered.
    - a pin (localCheckpoint, not persist): it CUTS lineage, so the build
      shuffles become garbage the moment ed materializes and the
      cleaner can delete them mid-job; a persist keeps the lineage
      (and its shuffle files) pinned for recompute.
    - The pre-partitioned layout would ideally be reused by every
      iteration's sort-merge join; this Spark build reports
      UnknownPartitioning for checkpointed frames under AQE, so in the
      SMJ regime each iteration re-exchanges (and re-sorts) ed —
      bounded by the per-iteration shuffle reaping, and the
      one-exchange build still wins (the old shape shuffled the edge
      list three times just to construct it). That is also why ed is
      NOT pre-sorted here (see inline note).
    - DISK_ONLY because unrolled in-memory rows are several× the
      serialized size (the 8g-heap OOM lesson).
    """
    # EXPLICIT partition count: a bare repartition(col) is an AQE
    # coalescing target, and at small scale the 64 MB advisory folds it
    # to ONE partition — which then serializes the entire build (dedup,
    # degree aggregate, degree join, sort, checkpoint write) onto a
    # single core (measured 6-9 s of the sf0.1 query's 12.7 s warm
    # total). An explicit n is exempt from AQE coalescing, so the build
    # runs cluster-wide at every scale; n is the session's configured
    # shuffle width (the cluster-sized knob), exactly what the exchange
    # would have used pre-AQE — not a local[32] constant.
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ed = (
        edges.select(
            F.col(src).cast("long").alias("__s"),
            F.col(dst).cast("long").alias("__d"),
        )
        .repartition(n_parts, F.col("__s"))
        .dropDuplicates(["__s", "__d"])
    )
    # Degree via a WINDOW count over the same hashpartitioning(__s)
    # the repartition established — no second aggregate and no
    # deg-join (r15, guide §2.3/§2.4): the former groupBy+join shape
    # re-used the deduped subtree twice and hash-joined a per-source
    # table back onto the edges; the window costs one local sort by
    # __s and streams one group at a time (WindowExec spills per
    # group, so a hub source with millions of out-edges buffers 16 B
    # rows and degrades to disk exactly like the SMJ iterations the
    # big-graph regime already tolerates). Interleaved same-JVM A/B
    # at sf0.1 (1.17M edges): window min 4.49 s vs join 5.30 s, window
    # won all 4 trial pairs. Result rows identical: per-__s count is
    # the same exact long either way.
    # (No layout sortWithinPartitions before the checkpoint — r14: the
    # saved order can't be reused, this Spark build reports
    # UnknownPartitioning for checkpointed frames under AQE.)
    w = Window.partitionBy("__s")
    ed = ed.withColumn("__deg", F.count(F.lit(1)).over(w))
    with pinned(ed, StorageLevel.DISK_ONLY) as ed:
        # the count doubles as the materialization barrier receipt and
        # is a cached-block scan; callers reuse it for their regime
        # decisions
        n_edges = ed.count()
        if n_edges > REAP_MIN_EDGES:
            _reap_shuffles(ed.sparkSession)
        nodes = (
            ed.select(F.col("__s").alias("id"))
            .unionByName(ed.select(F.col("__d").alias("id")))
            .distinct()
        )
        with pinned(nodes, StorageLevel.DISK_ONLY, eager=False) as nodes:
            yield ed, nodes, n_edges


def _reap_shuffles(spark) -> None:
    """Nudge the JVM GC so ContextCleaner deletes shuffle files whose
    lineage a checkpoint just cut. Spark's own periodic GC runs every
    30 min (spark.cleaner.periodicGC.interval) — far too slow for an
    iterative job whose per-iteration shuffles are GBs: without the
    nudge, every iteration's files survive to job end and the disk,
    not the algorithm, becomes the scale limit."""
    try:
        spark._jvm.System.gc()
    except Exception:
        pass  # cleanup is best-effort; correctness never depends on it


def _rank_step(
    ranks: DataFrame, ed: DataFrame, nodes: DataFrame, bcast_ranks: bool
) -> DataFrame:
    """One lazy PageRank iteration: (id, rank_e6) from the previous
    round's ranks over the prepared edges."""
    # Join strategy is COST-BASED on the node count:
    # - small/medium graphs broadcast the rank frame (it is
    #   nodes-sized by construction), so the edge list is never
    #   exchanged or sorted per iteration — the iteration's only
    #   shuffle is the map-side-combined contribution sum;
    # - past BROADCAST_MAX_NODES, merge hint: both sides are
    #   corpus-scale; the session's prefer-shuffled-hash would
    #   build a per-task hash map over |E|/partitions rows
    #   (~19M/task at sf100×32 slots — heap OOM at 8g). SMJ
    #   spills. (ed does re-exchange each iteration there: this
    #   Spark build reports UnknownPartitioning for
    #   checkpointed/cached frames under AQE, so the saved
    #   layout can't be reused — the callers' per-iteration reaping
    #   keeps those shuffle files from accumulating.)
    rk = F.broadcast(ranks) if bcast_ranks else ranks
    contrib = (
        rk.join(
            ed if bcast_ranks else ed.hint("merge"),
            rk["id"] == ed["__s"],
        )
        .select(
            F.col("__d").alias("id"),
            F.expr("div(rank_e6, __deg)").alias("__c"),
        )
        .groupBy("id")
        .agg(F.sum("__c").alias("__inflow"))
    )
    # floor(17·x/20) with BOUNDED intermediates:
    # x = 20q + r  =>  17q + floor(17r/20), r < 20 so the
    # products never exceed x itself. The naive 17*x pre-scales
    # by 17 and would wrap int64 (silently, in non-ANSI Spark;
    # DuckDB raises) for hub inflows above ~5.4e17 e6-units —
    # reachable only past ~5.4e11 nodes of total rank mass, but
    # the bounded form costs nothing and keeps the bit-exact
    # cross-engine claim unconditional (identical values to the
    # oracle's 17*x//20 wherever the latter doesn't overflow).
    return nodes.join(
        F.broadcast(contrib) if bcast_ranks else contrib,
        "id",
        "left",
    ).select(
        "id",
        (
            F.lit(BASE_E6)
            + F.expr(
                "17 * div(coalesce(__inflow, 0L), 20)"
                " + div(17 * pmod(coalesce(__inflow, 0L), 20), 20)"
            )
        ).cast("long").alias("rank_e6"),
    )


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Exact-int64 PageRank over a DIRECTED edge list (symmetrize
    upstream for undirected graphs): returns (id, rank_e6) for every
    node appearing as source or destination, after `iterations` steps
    from the uniform e6 start. Deterministic bit-for-bit across
    engines — see the module docstring for the integer formulation."""
    if iterations < 0:
        raise ValueError("iterations must be non-negative")
    with _prepared_graph(edges, src, dst) as (ed, nodes, n_edges):
        # Two iteration regimes, same result:
        # - small graphs: lazy unrolled iterations + ONE final checkpoint --
        #   per-iteration materialization (a job + a full System.gc each)
        #   measured a 1.8x slowdown at sf1 for zero benefit;
        # - big graphs: checkpoint EVERY iteration (16 B/row, DISK_ONLY)
        #   and reap -- with the lazy shape all iterations' shuffle files
        #   are alive simultaneously and DISK, not CPU, capped the feasible
        #   graph size (the sf100 run died on scratch space before heap).
        # ed is already materialized, so the count is a cached-block scan.
        low_footprint = n_edges > LOW_FOOTPRINT_EDGES
        # nodes is pinned and tiny per row; the count is one cheap job
        # and decides the per-iteration join strategy for the whole run.
        n_nodes = nodes.count()
        bcast_ranks = n_nodes <= BROADCAST_MAX_NODES
        # per-iteration checkpoint when EITHER bound trips: disk-bounded
        # shuffle reaping for big graphs (LOW_FOOTPRINT_EDGES), or the
        # broadcast-relation live-set bound for high iteration counts
        # (BROADCAST_UNROLL_MAX_RANK_ROWS — ADVICE r14: unrolled broadcast
        # iterations otherwise keep every iteration's rank broadcast alive
        # at once during the final job).
        checkpoint_each = low_footprint or (
            bcast_ranks
            and n_nodes * iterations > BROADCAST_UNROLL_MAX_RANK_ROWS
        )
        ranks = nodes.withColumn("rank_e6", F.lit(E6).cast("long"))
        for _ in range(iterations):
            nxt = _rank_step(ranks, ed, nodes, bcast_ranks)
            if checkpoint_each:
                nxt = pin(nxt, StorageLevel.DISK_ONLY)
                release(ranks)  # the previous round's pin
                if n_edges > REAP_MIN_EDGES:
                    _reap_shuffles(nxt.sparkSession)
            ranks = nxt
        if not checkpoint_each or iterations == 0:
            # truncate the unrolled lineage / keep the returned frame
            # valid past the releases of ed and nodes
            ranks = pin(ranks, StorageLevel.DISK_ONLY)
        return ranks


def pagerank_int_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    epsilon_e6: int = 100,
    max_iterations: int = 50,
) -> tuple[DataFrame, int]:
    """:func:`pagerank_int` with a delta-threshold early exit instead
    of a magic iteration constant: iterate until
    ``max |Δrank_e6| <= epsilon_e6`` (exact int — the comparison is
    deterministic, so the REALIZED iteration count is a pure function
    of the graph) or `max_iterations`. Returns ``(ranks, n_iters)``;
    by construction ``ranks`` is bit-identical to
    ``pagerank_int(edges, iterations=n_iters)`` (pytest-pinned in
    tests/test_graph_converged.py, along with delta(n_iters) <= eps <
    delta(n_iters - 1)).

    Scale notes: per iteration, the same one contribution shuffle +
    one node join as the fixed variant, PLUS one localCheckpoint of
    the 16 B/row rank frame (which the fixed variant does once at the
    end — here it also truncates the per-iteration lineage so the
    delta aggregate doesn't replay history) and one max-abs-delta
    aggregate (a scalar action, map-side combined; no data reaches
    the driver beyond one int64 per iteration)."""
    if epsilon_e6 < 0:
        raise ValueError("epsilon_e6 must be non-negative")
    if max_iterations < 1:
        raise ValueError("max_iterations must be positive")
    with _prepared_graph(edges, src, dst) as (ed, nodes, n_edges):
        ranks = pin(
            nodes.withColumn("rank_e6", F.lit(E6).cast("long")),
            StorageLevel.DISK_ONLY,
        )
        n_iters = 0
        # same cost-based strategy switch as pagerank_int (see
        # _rank_step)
        bcast_ranks = nodes.count() <= BROADCAST_MAX_NODES
        for _ in range(max_iterations):
            new_ranks = pin(
                _rank_step(ranks, ed, nodes, bcast_ranks),
                StorageLevel.DISK_ONLY,
            )
            if n_edges > REAP_MIN_EDGES:
                _reap_shuffles(new_ranks.sparkSession)
            n_iters += 1
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(
                    F.max(
                        F.abs(F.col("n.rank_e6") - F.col("o.rank_e6"))
                    ).alias("__dmax")
                )
                .collect()[0]["__dmax"]
            )
            release(ranks)  # the previous round's pin, read by the delta
            ranks = new_ranks
            if delta is not None and delta <= epsilon_e6:
                break
        return ranks, n_iters
