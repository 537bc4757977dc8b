#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload namejoin --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one closed-loop client,
``local[<nproc>]``. Prints the full run record as one JSON line, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def host_sizing() -> tuple[int, str]:
    """(cores, driver memory): every core this process may run on, and a
    driver heap of a sixth of host RAM capped at 2 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1]) // 1024
    return cores, f"{min(2048, total_mb // 6)}m"


def engine_digest(root: str) -> str:
    """sha256 of the engine's Python sources: provenance that survives a
    checkout without git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "polars_sim_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_head(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, tracer, seed: int, cores: int, data_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.cores = cores
        self.data_dir = data_dir
        self.counters: list[tuple[int, str, float]] = []


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure(root: str, work: str, cores: int, memory: str, trace: bool) -> None:
    """Environment read when the Spark JVM launches. Every file Spark,
    the JVM and this process write lands under ``work``. The driver heap
    is fixed-size and touched up front, so resident memory does not
    depend on when the collector chose to grow the heap; its collections
    are logged to ``gc.log``, which says how much of it the program
    kept live (``measure.gc_log_heap_mb``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = memory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java_opts = (
        f"-Xms{memory} -XX:+AlwaysPreTouch -Xlog:gc:file={os.path.join(work, 'gc.log')} "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    sys.path[:0] = [HERE, root]


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (the Python worker daemon and its workers) have
    exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def end_to_end(pass_s: list[float], setup_s: float, peak_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def run_unit(wl, op: int, traced: bool, walls: list[float]) -> None:
    wl.tracer.enabled = traced
    try:
        walls.append(wl.unit(op, traced))
    except Exception as e:  # a failed operation is counted, not fatal
        wl.raised.append(f"unit {op} raised {type(e).__name__}: {e}")


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "polars_sim_spark", "__init__.py")):
        print("perfbench: polars_sim_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cores, memory = host_sizing()
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    configure(root, work, cores, memory, trace)

    import measure as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import polars_sim_spark as pss

    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    try:
        with tr.RssSampler() as rss:
            t0 = time.time()
            spark = pss.get_spark(f"perfbench-{args.workload}")
            session_start_s = time.time() - t0
            tracer = tr.Tracer(spark)
            ctx = Context(spark, tracer, args.seed, cores, os.path.join(work, "data"))
            wl = WORKLOADS[args.workload](ctx)
            prep = []
            for _ in range(SETUP_REPEATS):
                t = time.time()
                wl.prepare()
                prep.append(time.time() - t)

            # discarded units: the JIT keeps warming through the first
            # full-size operations
            t = time.time()
            for op in range(-wl.WARM_UNITS, 0):
                run_unit(wl, op, False, [])
            warmup_s = time.time() - t

            jvm = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            timed_uptime = [jvm.getUptime() / 1000]
            t_first = time.time()
            # the prepare() repeats beyond the first are not part of set-up
            setup_s = t_first - t_proc - sum(prep) + statistics.median(prep)
            walls: list[float] = []
            traced_walls: list[float] = []
            deadline = time.perf_counter() + args.seconds
            op = 0
            while op < (2 if trace else 1) or time.perf_counter() < deadline:
                traced = trace and op % 2 == 1
                run_unit(wl, op, traced, traced_walls if traced else walls)
                op += 1
            timed_uptime.append(jvm.getUptime() / 1000)
            tree_peak_mb = rss.peak_mb
            peak_by_exe = {k: v / 2**20 for k, v in rss.peak_by_exe.items()}
        t = time.time()
        stop_spark(spark, tr.descendants(os.getpid()))
        stop_s = time.time() - t
    finally:
        shutil.rmtree(os.path.join(work, "local"), ignore_errors=True)

    t = time.time()
    errors = wl.raised + wl.check()
    check_s = time.time() - t
    attempted = (wl.WARM_UNITS + op) * wl.OPS_PER_UNIT
    record.update(
        {
            "cores": cores,
            "driver_memory": memory,
            "git_head": git_head(root),
            "engine_sha256": engine_digest(root),
            "versions": _versions(),
            "inputs": wl.inputs,
            "setup": {
                "setup_s": setup_s, "session_start_s": session_start_s,
                "prepare_s": prep, "warmup_s": warmup_s,
            },
            "peak_rss_mb_by_exe": peak_by_exe,
            "stop_s": stop_s,
            "check_s": check_s,
            "units": {"walls": walls},
            "attempted": attempted,
        }
    )
    heap = tr.gc_log_heap_mb(os.path.join(work, "gc.log"), *timed_uptime)
    record["memory_mb"] = {"tree_rss_peak": tree_peak_mb, **heap}
    if not walls or (trace and not traced_walls):
        metrics = {}  # every unit of a kind raised; ``errors`` says why
    else:
        # the pre-touched heap is resident whatever the program does: count
        # the heap it kept live instead
        peak_mb = tree_peak_mb - heap["committed"] + heap["live_median"]
        record["units"]["pass_s"] = tr.summary(walls)
        metrics = end_to_end(traced_walls or walls, setup_s, peak_mb)
        record["end_to_end"] = metrics
    if trace and metrics:
        import layers

        record["units"]["traced_pass_s"] = tr.summary(traced_walls)
        groups = tr.read_event_log(os.path.join(work, "events"))
        spans_path = os.path.join(results, f"{args.workload}-s{args.seed}.spans.jsonl")
        tracer.dump(spans_path, groups)
        per_layer = layers.per_layer(
            wl, tracer, ctx.counters, groups, cores, session_start_s, warmup_s,
            statistics.median(traced_walls) - statistics.median(walls),
        )
        record["per_layer"] = per_layer
        record["spans_file"] = os.path.relpath(spans_path, root)
        metrics = per_layer
    record["failed"] = len(errors)
    record["error_rate"] = len(errors) / attempted
    record["errors"] = errors[:20]
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(
        json.dumps(
            {"correct": not errors, "attempted": attempted, "failed": len(errors), "metrics": metrics}
        )
    )
    return 0


def _versions() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
    }


if __name__ == "__main__":
    sys.exit(main())
