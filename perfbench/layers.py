"""Per-layer metrics of a traced run.

Times are medians per span; job, stage and task counts and byte
totals are means per span or per operation, so that a change to any
one operation moves them. A layer a workload does not enter reports 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import EventLog, Tracer
from perfbench.workloads import QueryMix, Workload

# (name, unit), in report order
PER_LAYER = [
    ("session.start_s", "s"),
    ("memory.peak_rss_mb", "MB"),
    ("pipeline.bronze.ingest_s", "s"),
    ("pipeline.bronze.jobs", "count"),
    ("pipeline.bronze.tasks", "count"),
    ("pipeline.silver.merge_s", "s"),
    ("pipeline.silver.jobs", "count"),
    ("pipeline.silver.stages", "count"),
    ("pipeline.silver.tasks", "count"),
    ("pipeline.silver.shuffle_bytes", "B"),
    ("pipeline.silver.write_amp", "ratio"),
    ("queries.gold_claims.kpi_s", "s"),
    ("queries.gold_claims.jobs", "count"),
    ("queries.build_s", "s"),
    ("queries.exec_s", "s"),
    ("queries.jobs_per_query", "count"),
    ("queries.stages_per_query", "count"),
    ("queries.tasks_per_query", "count"),
    *[(f"queries.{k}_p50_s", "s") for k in QueryMix.KEYS],
    ("queries.corpus.jobs", "count"),
    ("queries.corpus.stages", "count"),
    ("queries.corpus.tasks", "count"),
    ("arrow.bytes_to_python", "B"),
    ("arrow.bytes_from_python", "B"),
    ("executor.busy_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.util", "ratio"),
    ("scheduler.idle_gap_s", "s"),
    ("io.bytes_read", "B"),
    ("io.bytes_written", "B"),
    ("spill.bytes", "B"),
    ("host.steal_share", "ratio"),
    ("trace.op_p50_s", "s"),
    ("trace.bookkeeping_s", "s"),
    ("trace.eventlog_mb", "MB"),
    ("ops_failed_ratio", "ratio"),
]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(
    w: Workload, tracer: Tracer, log_dir: str, cores: int, session_s: float,
    rss_mb: float, steal_share: float,
) -> dict[str, tuple[float, str]]:
    elog = EventLog(log_dir)
    ops = tracer.measured("op")
    n_ops = max(1, len(ops))
    by_op: dict[int, set[str]] = {}
    for s in tracer.spans:
        if s.op >= 0:
            by_op.setdefault(s.op, set()).add(s.group)
    all_groups = set().union(*by_op.values()) if by_op else set()
    tot = elog.totals(all_groups)
    op_wall = sum(s.seconds for s in ops)
    idle_ms = sum(
        elog.idle_ms(by_op[s.op], s.start * 1000, s.end * 1000) for s in ops
    )

    def spans(name: str):
        return tracer.measured(name)

    def secs(name: str) -> float:
        return _median([s.seconds for s in spans(name)])

    def count(name: str, attr: str) -> float:
        return _mean([getattr(s, attr) for s in spans(name)])

    def per_query(attr: str) -> float:
        names = ("queries.build", "queries.exec")
        qs = [s for s in tracer.spans if s.op >= 0 and s.name in names]
        return sum(getattr(s, attr) for s in qs) / max(1, len(spans("queries.exec")))

    silver = spans("pipeline.silver")
    silver_shuffle = elog.totals({s.group for s in silver})["shuffle_bytes"]
    write_amp = [
        b / w.sizes[f"extract_{g}"][1]
        for b, (g, _) in zip(getattr(w, "silver_bytes", []), getattr(w, "kept", []))
    ]
    latency = getattr(w, "latency", {})

    m: dict[str, float] = {
        "session.start_s": session_s,
        "memory.peak_rss_mb": rss_mb,
        "pipeline.bronze.ingest_s": secs("pipeline.bronze"),
        "pipeline.bronze.jobs": count("pipeline.bronze", "jobs"),
        "pipeline.bronze.tasks": count("pipeline.bronze", "tasks"),
        "pipeline.silver.merge_s": secs("pipeline.silver"),
        "pipeline.silver.jobs": count("pipeline.silver", "jobs"),
        "pipeline.silver.stages": count("pipeline.silver", "stages"),
        "pipeline.silver.tasks": count("pipeline.silver", "tasks"),
        "pipeline.silver.shuffle_bytes": silver_shuffle / max(1, len(silver)),
        "pipeline.silver.write_amp": _median(write_amp),
        "queries.gold_claims.kpi_s": secs("queries.gold_claims"),
        "queries.gold_claims.jobs": count("queries.gold_claims", "jobs"),
        "queries.build_s": secs("queries.build"),
        "queries.exec_s": secs("queries.exec"),
        "queries.jobs_per_query": per_query("jobs"),
        "queries.stages_per_query": per_query("stages"),
        "queries.tasks_per_query": per_query("tasks"),
        **{f"queries.{k}_p50_s": _median(latency.get(k, [])) for k in QueryMix.KEYS},
        "queries.corpus.jobs": count("queries.corpus", "jobs"),
        "queries.corpus.stages": count("queries.corpus", "stages"),
        "queries.corpus.tasks": count("queries.corpus", "tasks"),
        "arrow.bytes_to_python": tot["to_python"] / n_ops,
        "arrow.bytes_from_python": tot["from_python"] / n_ops,
        "executor.busy_s": tot["busy_ms"] / 1000 / n_ops,
        "executor.cpu_s": tot["cpu_ns"] / 1e9 / n_ops,
        "executor.gc_s": tot["gc_ms"] / 1000 / n_ops,
        "executor.util": tot["busy_ms"] / 1000 / (op_wall * cores) if op_wall else 0.0,
        "scheduler.idle_gap_s": idle_ms / 1000 / n_ops,
        "io.bytes_read": tot["bytes_read"] / n_ops,
        "io.bytes_written": tot["bytes_written"] / n_ops,
        "spill.bytes": tot["spill_bytes"] / n_ops,
        "host.steal_share": steal_share,
        "trace.op_p50_s": _median([s.seconds for s in ops]),
        "trace.bookkeeping_s": tracer.bookkeeping_s / n_ops,
        "trace.eventlog_mb": os.path.getsize(elog.path) / 2**20,
        "ops_failed_ratio": w.failed / n_ops,
    }
    return {name: (m[name], unit) for name, unit in PER_LAYER}
