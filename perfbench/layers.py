"""Per-layer figures of one traced pass.

Spans come from ``trace.Tracer``; jobs, stages and SQL executions from
``trace.SparkStatus``. A job, stage or execution is charged to the
innermost span open when it was submitted. Self time is a span's
duration minus the part its child spans cover.
"""

from __future__ import annotations

from .stats import Span, innermost, self_times
from .trace import LAYER_MODULES

OPERATOR_LAYERS = [layer for layer in LAYER_MODULES if layer.startswith("operators.")]
SPARK_COUNTERS = [
    "tasks", "scan_bytes", "shuffle_write_bytes", "shuffle_records", "spill_bytes",
]


def _top(spans_by_id: dict[int, Span], s: Span) -> Span:
    while s.parent is not None and s.parent in spans_by_id:
        s = spans_by_id[s.parent]
    return s


def pass_layers(tracer, drained: dict[str, list[dict]], queries: list[dict]) -> dict[str, float]:
    """The per-layer figures of one pass, under their reported names.
    Operator self time is a share of the pass wall, the sum of the
    queries' latencies."""
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    own = self_times(spans)
    wall = sum(q.get("latency_s", 0.0) for q in queries)
    self_s = {layer: 0.0 for layer in ["plans", "sink", "sources", *OPERATOR_LAYERS]}
    for s in spans:
        self_s[s.layer] += own[s.sid]
    jobs = {layer: 0.0 for layer in self_s}
    build_jobs = 0.0
    # jobs: self-attributed per layer; plans.build_jobs counts every job
    # launched inside a plan call, i.e. before the sink
    for j in drained["jobs"]:
        s = innermost(spans, j["t"])
        if s is None:
            continue
        jobs[s.layer] += 1
        if _top(by_id, s).layer == "plans":
            build_jobs += 1

    out = {
        "sources.load_table_s": self_s["sources"],
        "sources.jobs": jobs["sources"],
        "plans.build_s": self_s["plans"],
        "plans.build_jobs": build_jobs,
        "sink.exec_s": self_s["sink"],
        "sink.jobs": jobs["sink"],
    }
    for layer in OPERATOR_LAYERS:
        out[f"{layer}.self_share"] = self_s[layer] / wall
        out[f"{layer}.jobs"] = jobs[layer]

    stages, execs = drained["stages"], drained["executions"]
    out["spark.executions"] = float(len(execs))
    out["spark.jobs"] = float(len(drained["jobs"]))
    out["spark.stages"] = float(len(stages))
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = float(sum(st[c] for st in stages))
    out["python.bytes_sent"] = sum(e["py_sent"] for e in execs)
    out["python.bytes_received"] = sum(e["py_recv"] for e in execs)
    out["python.rows_received"] = sum(e["py_rows"] for e in execs)

    # shuffle records per output row, over the queries that called the
    # joins layer (their whole plan-to-sink window)
    join_windows = [
        (q["t0"], q["t1"], q["out_rows"]) for q in queries
        if "out_rows" in q and any(
            s.layer == "operators.joins" and q["t0"] <= s.t0 <= q["t1"] for s in spans)
    ]
    shuffled = sum(
        st["shuffle_records"] for st in stages
        if any(a <= st["t"] <= b for a, b, _ in join_windows)
    )
    rows = sum(n for _, _, n in join_windows)
    out["operators.joins.shuffle_per_output"] = shuffled / rows if rows else 0.0

    out["driver.collect_calls"] = float(tracer.collect_calls)
    out["driver.collect_share"] = tracer.collect_s / wall
    tracer.collect_calls, tracer.collect_s = 0, 0.0
    tracer.spans.clear()
    return out
