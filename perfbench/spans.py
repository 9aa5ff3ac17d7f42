"""Spans around the engine's public functions, joined with Spark's event log.

A traced run wraps the functions listed in `TRACED` from here, outside the
package: each call becomes a span with a name, start, end, parent and the
id of the benchmark operation it ran in, and each span runs its Spark jobs
under a job group of its own. Spans stay in memory until the run ends.
After the session stops, `EventLog` reads the uncompressed event log and
attributes every job, stage and task to the span that launched it.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

# (module, attribute path, span name). Functions the package imports by
# name are patched where they are looked up.
TRACED = [
    ("kamu_cli_spark.sources.fetch", "ingest_files_glob", "sources.poll"),
    ("kamu_cli_spark.writer", "DataWriter.write", "writer.write"),
    ("kamu_cli_spark.writer", "DataWriter.write_slice", "writer.write_slice"),
    ("kamu_cli_spark.writer", "assign_offsets", "offsets.assign"),
    ("kamu_cli_spark.operators.merge", "MergeStrategyAppend.merge", "merge.plan"),
    ("kamu_cli_spark.operators.merge", "MergeStrategySnapshot.merge", "merge.plan"),
    ("kamu_cli_spark.transform", "_PassthroughOps.merge", "merge.plan"),
    ("kamu_cli_spark.dataset", "Dataset.read", "dataset.read"),
    ("kamu_cli_spark.dataset", "Dataset.read_between", "dataset.read"),
    ("kamu_cli_spark.verification", "physical_hash", "verify.physical_hash"),
    ("kamu_cli_spark.verification", "logical_hash", "verify.logical_hash"),
    ("kamu_cli_spark.ledger.chain", "MetadataChain.__init__", "ledger.open"),
    ("kamu_cli_spark.ledger.chain", "MetadataChain.append", "ledger.append"),
    ("kamu_cli_spark.transform", "TransformExecutor.elaborate", "transform.elaborate"),
    ("kamu_cli_spark.transform", "TransformExecutor.execute", "transform.execute"),
    ("kamu_cli_spark.query.service", "QueryService.sql", "query.sql"),
    ("kamu_cli_spark.query.service", "QueryService.tail", "query.tail"),
]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    # time the tracer itself spent while the span was open
    paused: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start - self.paused


def _attrs_before(name: str, args: tuple) -> dict[str, Any]:
    if name == "writer.write":
        return {"fs_before": _dir_usage(args[0].dataset.path)}
    return {}


def _attrs_after(name: str, args: tuple, result: Any, attrs: dict[str, Any]) -> None:
    if name in ("dataset.read", "query.tail"):
        attrs["files"] = len(result.inputFiles()) if result is not None else 0
    elif name == "writer.write":
        b0, f0 = attrs.pop("fs_before")
        b1, f1 = _dir_usage(args[0].dataset.path)
        attrs["bytes"], attrs["files"] = b1 - b0, f1 - f0
        nd = (result or {}).get("new_data")
        attrs["rows"] = nd["num_records"] if nd else 0


def _dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Tracer:
    """Records spans; with `enabled` False every method is a no-op, so the
    untraced run pays nothing for the calls the workloads make."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._patches: list[tuple[Any, str, Any]] = []
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.sid if parent else None,
            op=op if op is not None else self._op,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        if op is not None:
            self._op = op
        if self.sc is not None:
            self.sc.setJobGroup(f"pb-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if op is not None:
                self._op = None
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"pb-{parent.sid}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def untimed(self):
        """Tracing work (attribute collection, probes): its time is taken
        out of every open span, so a span times only the program's call."""
        t0 = time.time()
        try:
            yield
        finally:
            d = time.time() - t0
            for s in self._stack:
                s.paused += d

    def note(self, key: str, value: Any) -> None:
        """Attach a value to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1].attrs[key] = value

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            with tracer.untimed():
                attrs = _attrs_before(name, args)
            with tracer.span(name, **attrs) as s:
                result = fn(*args, **kwargs)
            with tracer.untimed():
                _attrs_after(name, args, result, s.attrs)
            return result

        traced.__wrapped__ = fn  # type: ignore[attr-defined]
        return traced

    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, path, name in TRACED:
            owner: Any = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part its (sequential) children cover."""
        return s.dur - sum(k.dur for k in kids.get(s.sid, ()))

    def ancestors(self, s: Span):
        p = s.parent
        while p is not None:
            yield self.spans[p]
            p = self.spans[p].parent

    def has_ancestor(self, s: Span, name: str) -> bool:
        return any(a.name == name for a in self.ancestors(s))


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    input_b: int = 0
    input_records: int = 0
    output_b: int = 0
    spill_b: int = 0
    job_intervals: list = field(default_factory=list)

    def add(self, o: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            if k == "job_intervals":
                self.job_intervals.extend(o.job_intervals)
            else:
                setattr(self, k, getattr(self, k) + getattr(o, k))


class EventLog:
    """Per-job-group totals from one application's uncompressed event log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
        stage_group: dict[int, str | None] = {}
        job_group: dict[int, str | None] = {}
        job_start: dict[int, int] = {}
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[ev["Job ID"]] = g
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    self.groups[g].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    self.groups[job_group.get(jid)].job_intervals.append(
                        (job_start[jid] / 1000.0, ev["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    self.groups[stage_group.get(sid)].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    gs = self.groups[stage_group.get(ev["Stage ID"])]
                    m = ev.get("Task Metrics") or {}
                    gs.tasks += 1
                    gs.task_ms += m.get("Executor Run Time", 0)
                    gs.gc_ms += m.get("JVM GC Time", 0)
                    gs.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    inp = m.get("Input Metrics") or {}
                    gs.input_b += inp.get("Bytes Read", 0)
                    gs.input_records += inp.get("Records Read", 0)
                    gs.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    gs.spill_b += m.get("Disk Bytes Spilled", 0)

    def for_span(self, sid: int) -> GroupStats:
        return self.groups.get(f"pb-{sid}", GroupStats())
