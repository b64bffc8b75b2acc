#!/usr/bin/env python3
"""Benchmark runner for mercurygate_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One run: generate the
workload's inputs from ``--seed``, start a SparkSession through the
program's own factory (``mercurygate_spark.session.get_spark``) on
``local[<cores>]``, run the workload's untimed warm-up, then time whole units
until ``--seconds`` have passed, check every kept result and print one
JSON line as the last line of standard output::

    {"correct": true, "attempted": 36, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
job groups per span and the Spark event log and reports the per-layer
metrics instead (the two runs are separate so that end-to-end numbers
never carry tracing cost). Workloads, metrics and their meaning are
listed in ``perfbench/METRICS.md``.

The run is hermetic: all files (inputs, Spark local dirs, warehouse,
temp files, event log) live under ``.perfbench_work/`` in the
checkout and are deleted at the end; the JVM is stopped and waited
for before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Context:
    """What a workload needs from the run."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer


def _cpu_ticks() -> list[int]:
    """System-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _session(work: str, cores: int, traced: bool):
    from mercurygate_spark.session import get_spark

    conf = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> set[int]:
    """PIDs below ``pid`` in the process tree (Python workers under the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while we looked
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until it and every process it
    started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 — py4j gateway owns the JVM process
    workers = _descendants(gateway.proc.pid) if gateway is not None else set()
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    deadline = time.monotonic() + 60
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if _running(p)}
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"  # a zombie has exited
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import mercurygate_spark.queries  # noqa: F401 — registers the query keys
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("data", "local", "tmp"):
        os.makedirs(f"{work}/{d}")
    # Python workers import the program too; everything temporary
    # lands under the work dir, which is also the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.chdir(work)
    spark = None
    try:
        w = WORKLOADS[args.workload](args.seed)
        w.prepare(f"{work}/data")
        t0 = time.monotonic()
        spark = _session(work, cores, traced)
        session_s = time.monotonic() - t0
        tracer = Tracer(spark.sparkContext, traced)
        ctx = Context(spark, tracer)
        w.warm(ctx)
        setup_s = time.monotonic() - T_START

        ticks0 = _cpu_ticks()
        t0 = time.monotonic()
        while True:
            w.unit(ctx)
            if time.monotonic() - t0 >= args.seconds:
                break
        wall_s = time.monotonic() - t0
        ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
        steal_share = ticks[7] / max(1, sum(ticks))  # CPU time the host gave elsewhere

        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        rss_mb = (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024
        w.check(ctx)
        _stop(spark)
        spark = None

        if traced:
            tracer.dump(f"{ROOT}/.perfbench_work/spans-{args.workload}-{args.seed}.jsonl")
            metrics = layers.per_layer(
                w, tracer, f"{work}/events", cores, session_s, rss_mb, steal_share
            )
        else:
            op_s = [s.seconds for s in tracer.measured("op")]
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(op_s) if op_s else 0.0, "s"),
                "items_per_s": (w.items / wall_s, "1/s"),
            }
        result = {
            "correct": w.failed == 0 and w.ops > 0,
            "attempted": w.ops,
            "failed": w.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
