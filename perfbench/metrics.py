"""End-to-end and per-layer metrics from one run's raw measurements."""

from __future__ import annotations

import statistics
import time

import numpy as np

from .layers import OPERATOR_LAYERS, SPARK_COUNTERS
from .stats import tail

# Set-up, pass and query costs are CPU seconds of the whole process tree
# (Python driver, JVM, Python workers): on a host whose hypervisor steals
# a varying share of the CPUs, wall times of the same run swing by 2x
# while CPU time stays within a few per cent. Wall times are reported
# beside them (stderr line; ``wall.*`` in the traced run).
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
    "query_p50_cpu_s": "s",
    "query_tail_cpu_s": "s",
    "success_rate": "share",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "host.canary_s": "s",
        "session.start_s": "s",
        "session.warmup_s": "s",
        "query.tail_percentile": "%",
        "query.samples": "count",
        "sources.load_table_s": "s",
        "sources.jobs": "count",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "sink.exec_s": "s",
        "sink.jobs": "count",
    }
    # operator self time is a share of the pass wall, not seconds: each
    # workload leaves some operator layers uncalled, and those then read
    # 0 as a share rather than as a time that is the same on every run
    for layer in OPERATOR_LAYERS:
        units[f"{layer}.self_share"] = "share"
        units[f"{layer}.jobs"] = "count"
    units["operators.joins.shuffle_per_output"] = "records/row"
    for c in ["executions", "jobs", "stages", *SPARK_COUNTERS]:
        units[f"spark.{c}"] = "bytes" if c.endswith("_bytes") else "count"
    units.update({
        "python.bytes_sent": "bytes",
        "python.bytes_received": "bytes",
        "python.rows_received": "count",
        "driver.collect_calls": "count",
        "driver.collect_share": "share",
        "proc.cpu_s": "s",
        "proc.cpu_util": "share",
        "proc.disk_write_bytes": "bytes",
        "proc.jvm_rss_peak_mb": "MB",
        "proc.peak_rss_mb": "MB",
        "wall.setup_s": "s",
        "wall.cold_pass_s": "s",
        "wall.warm_pass_s": "s",
        "wall.query_p50_s": "s",
        "wall.query_tail_s": "s",
        "cold.plans.build_s": "s",
        "cold.plans.build_jobs": "count",
        "cold.operators.joins.self_share": "share",
        "cold.operators.joins.jobs": "count",
        "cold.spark.jobs": "count",
    })
    return units


PER_LAYER = _per_layer_units()


def host_canary() -> float:
    """Seconds for a fixed single-threaded numpy workload; a slow or
    contended host reads high here before it reads high anywhere else."""
    rng = np.random.default_rng(0)
    data = rng.standard_normal(1_000_000)
    t0 = time.perf_counter()
    for _ in range(4):
        np.sort(data)
        np.cumsum(np.sqrt(np.abs(data)))
    return time.perf_counter() - t0


def _warm_query_samples(warm: list[dict], key: str) -> list[float]:
    return [q[key] for p in warm for q in p["queries"] if key in q]


def summary(run: dict, canary_s: float) -> dict:
    passes = run["passes"]
    cold, warm = passes[0], passes[1:]
    attempted = sum(len(p["queries"]) for p in passes)
    cpu_samples = _warm_query_samples(warm, "cpu_s")
    wall_samples = _warm_query_samples(warm, "latency_s")
    pct, cpu_tail = tail(cpu_samples)
    _, wall_tail = tail(wall_samples)

    def med(key: str) -> float:
        return statistics.median(p[key] for p in warm)

    e2e = {
        "setup_s": run["setup_cpu_s"],
        "cold_pass_cpu_s": cold["cpu_s"],
        "warm_pass_cpu_s": med("cpu_s"),
        "query_p50_cpu_s": statistics.median(cpu_samples),
        "query_tail_cpu_s": cpu_tail,
        "success_rate": (attempted - len(run["failures"])) / attempted,
    }
    wall = {
        "wall.setup_s": run["setup_s"],
        "wall.cold_pass_s": cold["wall_s"],
        "wall.warm_pass_s": med("wall_s"),
        "wall.query_p50_s": statistics.median(wall_samples),
        "wall.query_tail_s": wall_tail,
    }
    layer: dict[str, float] = {
        **wall,
        "host.canary_s": canary_s,
        "session.start_s": run["session_start_s"],
        "session.warmup_s": run["session_warmup_s"],
        "query.tail_percentile": pct,
        "query.samples": float(len(cpu_samples)),
        "proc.cpu_s": med("cpu_s"),
        "proc.cpu_util": statistics.median(
            p["cpu_s"] / (p["wall_s"] * run["nproc"]) for p in warm),
        "proc.disk_write_bytes": med("disk_write_bytes"),
        "proc.jvm_rss_peak_mb": run["rss"]["jvm_mb"],
        "proc.peak_rss_mb": run["rss"]["driver_mb"] + run["rss"]["jvm_mb"],
    }
    if "layers" in cold:
        for name in cold["layers"]:
            layer[name] = statistics.median(p["layers"][name] for p in warm)
        for name in ("plans.build_s", "plans.build_jobs", "operators.joins.self_share",
                     "operators.joins.jobs", "spark.jobs"):
            layer["cold." + name] = cold["layers"][name]
    info = {
        "passes": len(passes),
        "query_samples": len(cpu_samples),
        "query_tail_percentile": round(pct, 2),
        "host_canary_s": round(canary_s, 4),
        **{k: round(v, 3) for k, v in wall.items()},
        "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        "pass_steal_s": [round(p["host_steal_s"], 2) for p in passes],
        "cold_query_cpu_s": {q["key"]: round(q.get("cpu_s", 0.0), 2) for q in cold["queries"]},
    }
    return {
        "end_to_end": {k: (e2e[k], u) for k, u in END_TO_END.items()},
        "per_layer": {k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()},
        "info": info,
    }
