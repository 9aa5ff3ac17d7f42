"""Lifecycle benchmark for kamu_cli_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Boots one local Spark session, sets the
workload up three times from the seed (reporting the median of the
program's part of each set-up as `setup_s`; generating the inputs is
left out), runs one client in a closed loop for
`--seconds`, checks the outputs against DuckDB and prints, as the last
line, `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the public functions
listed in `spans.TRACED` are wrapped in spans, Spark writes an event log,
and the metrics are the per-layer ones. The lines above the last one hold
the full record: stamp, samples, input checksums and the per-layer table.
Everything the run writes stays under `.perfbench/` in the working
directory.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, Python and DuckDB write inside `work`, and
    let Spark's Python workers import the package from `root`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the Spark driver): temp files under `work`,
    # and no hsperfdata file, which the JVM would put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def source_digest(root: str) -> str:
    """sha256 over the program's sources: identifies the code measured
    when the checkout carries no git metadata."""
    files = sorted(glob.glob(os.path.join(root, "kamu_cli_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(root, "__spark_entry__.py"))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(root, ".git", ref[5:])
        return open(path).read().strip() if os.path.exists(path) else None
    return ref


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_times(jvm) -> tuple[float, float]:
    """Driver JVM's cumulative GC and JIT compilation time, in seconds."""
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def boot(trace: bool, work: str):
    from kamu_cli_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit; the launcher ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def hygiene(work: str, spark) -> dict[str, int]:
    """Leftovers the engine should clean up, counted, not failed on."""
    tmp_dirs = glob.glob(os.path.join(work, "rep-*", "ws", "*", ".tmp-*"))
    locks = glob.glob(os.path.join(work, "rep-*", "ws", "*", "metadata.jsonl.lock"))
    return {
        "hygiene.tmp_dirs_left": len(tmp_dirs),
        "hygiene.lock_files_left": len(locks),
        "hygiene.persisted_rdds_at_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def summarize(samples: dict[str, list[float]]) -> dict[str, dict]:
    """Median (and p90 where ten samples lie beyond it) per timing."""
    out = {}
    for k, xs in sorted(samples.items()):
        s = {"p50": statistics.median(xs), "n": len(xs), "all": [round(x, 4) for x in xs]}
        if len(xs) >= 100:
            s["p90"] = statistics.quantiles(xs, n=10)[-1]
        out[k] = s
    return out


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    prepare_env(root, work)
    try:
        return measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, root: str, work: str) -> int:
    out_dir = os.path.join(root, ".perfbench", "results")
    try:
        import kamu_cli_spark  # noqa: F401  the program under test
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2

    import pyspark

    import gen
    import report
    from spans import EventLog, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = Tracer(enabled=bool(args.trace))

    t0 = time.perf_counter()
    with tracer.span("session.boot"):
        spark = boot(bool(args.trace), work)
    boot_s = time.perf_counter() - t0
    tracer.attach(spark)
    tracer.install()
    jvm = spark.sparkContext._jvm
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "inputs": "generated from the seed under .perfbench/work (no external testdata)",
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
    }

    record: dict = {"stamp": stamp, "session_boot_s": boot_s}
    error = None
    try:
        setups, untimed, digests = [], [], []
        for rep in range(SETUP_REPS):
            w = cls(spark, args.seed, args.seconds, tracer)
            rep_dir = os.path.join(work, f"rep-{rep}")
            t0 = time.perf_counter()
            with tracer.span("setup"):
                w.setup(rep_dir)
            # the program's workspace build only: input generation and
            # the benchmark's own file writes are left out
            setups.append(time.perf_counter() - t0 - w.untimed_s)
            untimed.append(w.untimed_s)
            digests.append(gen.digest(w.checksums))
            if rep < SETUP_REPS - 1:
                shutil.rmtree(rep_dir)
        w.samples.clear()
        w.expect("same seed gives byte-identical inputs", len(set(digests)) == 1)
        record["setup_s_each"] = setups
        record["setup_untimed_s_each"] = untimed
        record["inputs_sha256"] = digests[-1]
        record["input_files"] = len(w.checksums)
        record["ledger_blocks_at_start"] = report.ledger_blocks(os.path.join(work, f"rep-{SETUP_REPS - 1}"))

        jvm_before = jvm_times(jvm)
        t_loop = time.perf_counter()
        try:
            w.loop(t_loop + args.seconds)
        except Exception:
            error = traceback.format_exc()
            w.failed_ops = max(w.failed_ops, 1)
        record["loop_s"] = time.perf_counter() - t_loop
        record["loop_jvm_gc_s"], record["loop_jit_s"] = (
            b - a for a, b in zip(jvm_before, jvm_times(jvm))
        )
        if error is None:
            try:
                w.check()
            except Exception:
                error = traceback.format_exc()
                w.expect("checks ran to completion", False)
        record.update(hygiene(work, spark))
        rss = vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()) + vm_hwm_mb("self")
    finally:
        tracer.uninstall()
        stop(spark)

    if error:
        print(error, file=sys.stderr)
    record["samples"] = summarize(w.samples)
    record["info"] = w.info
    record["failed_checks"] = w.failed_checks
    e2e = {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "cycle_s": {"value": w.cycle_s(), "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
    }
    record["end_to_end"] = e2e
    attempted = w.ops + w.checks
    failed = w.failed_ops + len(w.failed_checks)

    os.makedirs(out_dir, exist_ok=True)
    if args.trace:
        layers = report.per_layer(tracer, EventLog(os.path.join(work, "eventlog")), w, record)
        values = layers.pop("metrics")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
        record["per_layer"] = layers
        record["per_layer_metrics"] = metrics
        record["counts_repeat"] = report.compare_counts(out_dir, args.workload, layers["counts"])
        record["tracing_overhead"] = report.overhead(out_dir, args.workload, args.seed, w.cycle_s())
        report.print_table(record)
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
