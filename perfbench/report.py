"""Per-layer figures of a traced run, and the table printed from them.

Every figure is taken over the timed loop only (spans with an op id):
times are seconds per operation or per call as named, counts are per
operation or per commit, and Spark's figures come from the event log
joined on the spans' job groups.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from spans import EventLog, GroupStats, Tracer

MB = 1024.0 * 1024.0

# counts that must repeat exactly from run to run of one workload
DETERMINISTIC = [
    "spark.jobs_per_op",
    "spark.stages_per_op",
    "writer.commit_jobs",
    "writer.commit_stages",
    "writer.prev_slices_listed",
    "offsets.jobs",
    "ledger.opens_per_op",
    "transform.pull_jobs",
    "query.tail_slices_read",
    "fs.files_written_per_commit",
    "hygiene.tmp_dirs_left",
    "hygiene.lock_files_left",
]


def ledger_blocks(rep_dir: str) -> int:
    n = 0
    for path in glob.glob(os.path.join(rep_dir, "ws", "*", "metadata.jsonl")):
        with open(path, encoding="utf-8") as f:
            n += sum(1 for line in f if line.strip())
    return n


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(tracer: Tracer, log: EventLog, w, record: dict) -> dict:
    spans = tracer.spans
    kids = tracer.children()

    subtree_cache: dict[int, GroupStats] = {}

    def inclusive(sid: int) -> GroupStats:
        if sid not in subtree_cache:
            g = GroupStats()
            g.add(log.for_span(sid))
            for k in kids.get(sid, ()):
                g.add(inclusive(k.sid))
            subtree_cache[sid] = g
        return subtree_cache[sid]

    looped = [s for s in spans if s.op is not None]
    ops = [s for s in looped if s.name.startswith("op.")]
    by = defaultdict(list)
    for s in looped:
        by[s.name].append(s)
    n_ops = max(len(ops), 1)

    op_stats = [inclusive(s.sid) for s in ops]
    wall = sum(s.dur for s in ops)
    job_s = [_union(g.job_intervals, s.start, s.end) for s, g in zip(ops, op_stats)]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    task_s = sum(g.task_ms for g in op_stats) / 1000.0

    # commits of root data; a pull's commit is counted under transform.*
    top_commits = [c for c in by["writer.write"] if not tracer.has_ancestor(c, "transform.execute")]
    pull_commits = [c for c in by["writer.write"] if tracer.has_ancestor(c, "transform.execute")]

    def per_commit(name: str, value) -> list[float]:
        out = []
        for c in top_commits:
            inside = [s for s in by[name] if any(a.sid == c.sid for a in tracer.ancestors(s))]
            out.append(sum(value(s) for s in inside))
        return out

    reads_in_commit = per_commit("dataset.read", lambda s: s.dur)
    pulls = [s for s in by["transform.execute"] if not tracer.has_ancestor(s, "transform.execute")]
    pull_rows = sum(c.attrs.get("rows", 0) for c in pull_commits)
    pull_in = sum(inclusive(p.sid).input_records for p in pulls)
    polls = by["sources.poll"]
    verify_spans = [s for s in spans if s.name in ("verify.dataset", "verify.replay")]
    cat = defaultdict(list)
    for s in ops:
        for k, v in s.attrs.items():
            if k.startswith("catalyst."):
                cat[k].append(v)
    operator_rows = {}
    for s in looped:
        if s.name.startswith("operator."):
            g = inclusive(s.sid)
            q = s.name[len("operator."):]
            operator_rows.setdefault(f"op.{q}_s", []).append(s.dur)
            operator_rows.setdefault(f"op.{q}.jobs", []).append(g.jobs)

    m = {
        "session.boot_s": record["session_boot_s"],
        "spark.driver_s_per_op": (wall - sum(job_s)) / n_ops,
        "spark.job_s_per_op": sum(job_s) / n_ops,
        "spark.task_s_per_op": task_s / n_ops,
        "spark.slot_busy_ratio": task_s / (cores * wall) if wall else 0.0,
        "spark.jobs_per_op": _mean(g.jobs for g in op_stats),
        "spark.stages_per_op": _mean(g.stages for g in op_stats),
        "spark.tasks_per_op": _mean(g.tasks for g in op_stats),
        "spark.shuffle_write_mb_per_op": _mean(g.shuffle_write_b for g in op_stats) / MB,
        "spark.input_mb_per_op": _mean(g.input_b for g in op_stats) / MB,
        "spark.persisted_left": max((s.attrs.get("persisted", 0) for s in ops), default=0),
        "writer.commit_jobs": _mean(inclusive(c.sid).jobs for c in top_commits),
        "writer.commit_stages": _mean(inclusive(c.sid).stages for c in top_commits),
        # the first commit's listing: later ones list one more slice each
        "writer.prev_slices_listed": next(iter(per_commit("dataset.read", lambda s: s.attrs.get("files", 0))), 0),
        "offsets.jobs": _mean(per_commit("offsets.assign", lambda s: inclusive(s.sid).jobs)),
        "ledger.opens_per_op": len(by["ledger.open"]) / n_ops,
        "transform.pull_jobs": _mean(inclusive(p.sid).jobs for p in pulls),
        "transform.read_rows_per_new_row": pull_in / pull_rows if pull_rows else 0.0,
        "query.tail_slices_read": _mean(s.attrs.get("files", 0) for s in by["query.tail"]),
        "verify.jobs": sum(inclusive(s.sid).jobs for s in verify_spans),
        "fs.bytes_written_per_commit": _mean(c.attrs.get("bytes", 0) for c in top_commits),
        "fs.files_written_per_commit": _mean(c.attrs.get("files", 0) for c in top_commits),
        "hygiene.tmp_dirs_left": record["hygiene.tmp_dirs_left"],
        "hygiene.lock_files_left": record["hygiene.lock_files_left"],
        "traced.cycle_s": w.cycle_s(),
    }
    # layer times: printed in the table, kept out of the metric set
    # because a workload that never enters a layer would report 0 for it
    times = {
        "sources.poll_s": _mean(
            s.dur - sum(k.dur for k in kids.get(s.sid, ()) if k.name == "writer.write") for s in polls
        ),
        "writer.self_s": _mean(tracer.self_time(c, kids) for c in top_commits),
        "writer.slice_write_s": _mean(per_commit("writer.write_slice", lambda s: s.dur)),
        "writer.prev_read_s": _mean(reads_in_commit),
        "offsets.assign_s": _mean(per_commit("offsets.assign", lambda s: s.dur)),
        "merge.plan_s": _mean(per_commit("merge.plan", lambda s: s.dur)),
        "dataset.read_s_per_op": sum(s.dur for s in by["dataset.read"]) / n_ops,
        "ledger.open_ms": 1000 * _mean(s.dur for s in by["ledger.open"]),
        "ledger.append_ms": 1000 * _mean(s.dur for s in by["ledger.append"]),
        "transform.elaborate_s": _mean(s.dur for s in by["transform.elaborate"]),
        "transform.pull_s": _mean(s.dur for s in pulls),
        "query.plan_s": _mean(s.dur for s in by["query.sql"] + by["query.tail"]),
        "query.exec_s": _mean(
            s.dur - sum(k.dur for k in kids.get(s.sid, ()) if k.name in ("query.sql", "query.tail"))
            for s in by["step.tail"] + by["step.sql"]
        ),
        "verify_s": sum(s.dur for s in verify_spans),
        "verify.physical_hash_s": sum(s.dur for s in spans if s.name == "verify.physical_hash"),
        "verify.logical_hash_s": sum(s.dur for s in spans if s.name == "verify.logical_hash"),
        "spark.gc_s": sum(g.gc_ms for g in op_stats) / 1000.0,
        "spark.output_mb_per_op": _mean(g.output_b for g in op_stats) / MB,
        "spark.spill_mb": sum(g.spill_b for g in op_stats) / MB,
        **{k: _mean(v) for k, v in cat.items()},
        **{k: _mean(v) for k, v in sorted(operator_rows.items())},
    }
    repeat = {
        "writer.commit_jobs": sorted({inclusive(c.sid).jobs for c in top_commits}),
        "spark.jobs_per_op": sorted({g.jobs for g in op_stats}),
        "ledger.opens_per_op": sorted({sum(1 for s in by["ledger.open"] if s.op == o.op) for o in ops}),
    }
    return {
        "metrics": m,
        "layer_times": times,
        "counts": {
            **{k: m[k] for k in DETERMINISTIC},
            **{k: v[0] for k, v in operator_rows.items() if k.endswith(".jobs") and len(set(v)) == 1},
        },
        "distinct_values_within_run": repeat,
        "ops": len(ops),
        "commits": len(top_commits),
    }


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_s_per_op", "s"), ("_mb", "MB"), ("_mb_per_op", "MB"), (".jobs", "count")):
        if name.endswith(suffix):
            return unit
    return ""


def compare_counts(out_dir: str, workload: str, counts: dict) -> dict:
    """Compare this traced run's deterministic counts with the previous
    traced run of the same workload, then store them for the next one."""
    path = os.path.join(out_dir, f"{workload}-counts.json")
    result: dict = {"previous_run": None}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        diff = {k: (prev.get(k), v) for k, v in counts.items() if prev.get(k) != v}
        result = {"previous_run": "identical" if not diff else "differs", "differences": diff}
    with open(path, "w") as f:
        json.dump(counts, f, indent=1)
    return result


def overhead(out_dir: str, workload: str, seed: int, traced_cycle: float) -> dict | None:
    """Tracing overhead: traced minus untraced `cycle_s` for the same
    workload and seed, when an untraced record exists."""
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if traced_cycle is None or not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)["end_to_end"]["cycle_s"]["value"]
    if not base:
        return None
    return {"untraced_cycle_s": base, "traced_cycle_s": traced_cycle, "overhead_s": traced_cycle - base,
            "overhead_ratio": (traced_cycle - base) / base}


def print_table(record: dict) -> None:
    pl = record["per_layer"]
    print(f"per-layer, workload {record['stamp']['workload']}, seed {record['stamp']['seed']}: "
          f"{pl['ops']} ops, {pl['commits']} commits in the timed loop")
    rows = [(k, v["value"], v["unit"]) for k, v in record["per_layer_metrics"].items()]
    rows += [(k, v, _unit(k)) for k, v in pl["layer_times"].items()]
    for k, v, unit in rows:
        print(f"  {k:44s} {v:14.4f} {unit}")
    print(f"  deterministic counts vs previous traced run: {record['counts_repeat']}")
    print(f"  distinct per-op values within this run: {pl['distinct_values_within_run']}")
    ov = record["tracing_overhead"]
    print(
        "  tracing overhead: "
        + (f"{ov['overhead_s']:+.4f} s per cycle ({ov['overhead_ratio']:+.1%}) vs the untraced run of this seed"
           if ov else "no untraced run of this workload and seed to compare with")
    )
