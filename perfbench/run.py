#!/usr/bin/env python3
"""aisle_spark benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload scan_selective --seed 1 --seconds 12 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is a
JSON object holding every end-to-end metric; with ``--trace 1`` it holds
every per-layer metric (see perfbench/README.md). Lines before it, each
starting with ``#``, are for people.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPS = 3
CANARY_REPS = 2


def cpu_sample() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb() -> float:
    """Max VmHWM over this run's Python worker processes: pyspark.daemon,
    the workers it forks and the DataSource planning workers (not the
    JVM, whose command line also names pyspark)."""
    peak = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
            if not (Path(argv[0].decode()).name.startswith("python") and b"pyspark" in b" ".join(argv)):
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def start_session(cores: int, work: Path, event_dir: Path | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("aisle-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
        )
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from aisle_spark.datasource import register

    register(spark)
    return spark


def _start_time(pid: int) -> str | None:
    """A live process's start time (its identity against pid reuse)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def stop_session(spark) -> None:
    """Stop Spark, its JVM and every process they started, and wait for
    each to end. Processes are listed before the JVM goes, because a
    Python worker it leaves behind is no longer our descendant."""
    from pyspark import SparkContext

    started = {p: _start_time(p) for p in descendants(os.getpid())}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    started.update({p: _start_time(p) for p in descendants(os.getpid())})

    def left() -> list[int]:
        return [p for p, t in started.items() if t is not None and _start_time(p) == t]

    for pid in left():
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.time() + 10
    while left() and time.time() < deadline:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.05)


def canary(spark) -> float:
    """Pure-Spark work with no engine code: a noisy-window flag."""
    t0 = time.perf_counter()
    spark.range(0, 10_000_000, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "sum(id % 7)"
    ).collect()
    return time.perf_counter() - t0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def by_kind(ops) -> dict[str, list]:
    kinds: dict[str, list] = {}
    for o in ops:
        kinds.setdefault(o.name, []).append(o)
    return kinds


def end_to_end(wl, ops, setup_writes, setup_s: float, rss_mb: float) -> dict:
    """Each op kind (a query of the mix, an encode) counts once, through
    its own median, so a partial last cycle of the mix does not tilt the
    figures. Rates are per kind-cycle: tokens of one op of each kind over
    the median walls of those ops."""
    reads = by_kind(o for o in ops if o.kind == "read" and o.ok)
    writes = by_kind(o for o in setup_writes + ops if o.kind == "write" and o.ok)
    if not reads or not writes:
        raise RuntimeError("no successful read or write op to measure")

    def p50(kinds):
        return statistics.median(statistics.median(o.wall_s for o in k) for k in kinds.values())

    def rate(kinds):
        return sum(statistics.mean(o.tokens for o in k) for k in kinds.values()) / sum(
            statistics.median(o.wall_s for o in k) for k in kinds.values()
        )

    return {
        "setup_s": metric(setup_s, "s"),
        "write_tokens_per_s": metric(rate(writes), "tokens/s"),
        "write_p50_s": metric(p50(writes), "s"),
        "read_p50_s": metric(p50(reads), "s"),
        "decode_tokens_per_s": metric(rate(reads), "tokens/s"),
        "stored_bytes_vs_zstd": metric(wl.stored_bytes / wl.ref_bytes, "ratio"),
        "worker_peak_rss_mb": metric(rss_mb, "MB"),
    }


def run(args) -> dict:
    """Measure in a scratch directory of the checkout, removed at the end."""
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()


def measure(args, work: Path) -> dict:
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    cpu0 = cpu_sample()
    t0 = time.perf_counter()
    spark = start_session(cores, work, work / "events" if args.trace else None)
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores)
        canaries = [canary(spark) for _ in range(CANARY_REPS)]
        reps, setup_writes = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            setup_writes += wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install()
            wl.scope = tracer.scope
        ops = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < deadline:
            wl.traced = bool(args.trace) and i % 2 == 1
            ops += wl.step(i)
            i += 1
        wl.traced = False
        canaries += [canary(spark) for _ in range(CANARY_REPS)]
        rss_mb = worker_peak_rss_mb()
        layer = None
        if args.trace:
            from layers import layer_metrics

            layer = layer_metrics(spark, wl, ops, tracer, work)
    finally:
        if tracer is not None:
            tracer.uninstall()
        t0 = time.perf_counter()
        stop_session(spark)
        stop_s = time.perf_counter() - t0
    cpu1 = cpu_sample()
    steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    failed = sum(not o.ok for o in ops) + len(wl.failed_checks)
    for msg in wl.failed_checks:
        print(f"# FAILED CHECK {msg}", file=sys.stderr)
    canary_s = statistics.median(canaries)
    print(
        f"# {args.workload}: {len(ops)} ops ({failed} failed), setup reps "
        f"{[round(r, 3) for r in reps]} s, warm-up {warm_s:.3f} s, session "
        f"{session_s:.3f} s, prepare {prepare_s:.3f} s, stop {stop_s:.3f} s, "
        f"canary {canary_s:.3f} s, steal {steal_pct:.2f}%"
    )
    for kind, group in sorted(by_kind(o for o in ops if o.ok).items()):
        walls = [o.wall_s for o in group]
        print(f"#   {kind:20s} n={len(walls):3d} p50 {statistics.median(walls):.3f} s "
              f"min {min(walls):.3f} max {max(walls):.3f}")
    if args.trace:
        from layers import finish_layer_metrics

        metrics = finish_layer_metrics(layer, work, canary_s, steal_pct)
    else:
        metrics = end_to_end(wl, ops, setup_writes, setup_s, rss_mb)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "aisle_spark" / "__init__.py").is_file():
        print(f"error: no aisle_spark package beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
