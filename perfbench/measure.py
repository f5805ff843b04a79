"""The measured process: one fresh Python driver and JVM per run.

It starts and warms a session, recording what that cost, then runs the
workload's queries in passes (one cold pass, then ``WARM_PASSES`` warm
ones; the count is fixed, so every run has the same samples), checks
every output against its reference outside the timed region, and
writes the raw measurements as JSON to ``--out``. With ``--trace 1`` it
also records per-layer spans and Spark status.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import pickle
import shutil
import sys
import time

from perfbench import outputs, proc, stats
from perfbench.oracle import TopK
from perfbench.workloads import WARM_PASSES, WORKLOADS


def _warmup(spark) -> None:
    """Start the JVM's first job and the Python worker pool for both
    pandas-UDF modes; everything else a query pays the first time is
    part of the cold pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()
    (
        spark.range(64)
        .mapInPandas(lambda it: it, schema="id long")
        .groupBy((F.col("id") % 4).alias("g"))
        .applyInPandas(lambda p: pd.DataFrame({"n": [len(p)]}), schema="n long")
        .collect()
    )


def _reset_scratch(sf_dir: str) -> None:
    """Empty the program's on-disk scratch for this fixture (its cached
    tables and stream stages), so the cold pass builds them."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(f"/tmp/mrnej_cache/{key}", ignore_errors=True)
    for p in glob.glob(f"/tmp/mrnej_stream/{key}*"):
        shutil.rmtree(p, ignore_errors=True)


class _NoTrace:
    def span(self, layer, name):
        return contextlib.nullcontext()


def _run_query(spark, fn, key, sf_dir, tracer):
    """(seconds, arrow table) for one query: the plan call, then the
    sink, which collects the result to the driver as Arrow."""
    t0 = time.perf_counter()
    with tracer.span("plans", key):
        df = fn(spark, sf_dir)
    with tracer.span("sink", key):
        tbl = df.toArrow()
    return time.perf_counter() - t0, tbl


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--refs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    from mapreducenonequijoin_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.time()
    _warmup(spark)
    t_ready = time.time()
    result: dict = {
        "setup_cpu_s": proc.tree_usage(os.getpid())["cpu_s"],
        "setup_s": t_ready - args.spawned_at,
        "session_start_s": t_session - args.spawned_at,
        "session_warmup_s": t_ready - t_session,
    }
    result.update(_measure(spark, args))
    result["rss"] = proc.peak_rss_mb(os.getpid())
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # no spark.stop(): the caller kills this process group, which ends
    # the JVM and the Python workers sooner than a graceful stop
    sys.stderr.flush()
    os._exit(0)


def _measure(spark, args) -> dict:
    from __spark_entry__ import queries

    qs = queries()
    keys = WORKLOADS[args.workload]
    with open(args.refs, "rb") as fh:  # written by run.py
        refs: dict[str, outputs.Canon | TopK] = pickle.load(fh)
    tracer = _NoTrace()
    status = None
    if args.trace:
        from perfbench.trace import SparkStatus, Tracer

        status = SparkStatus(spark)
        tracer = Tracer()
        tracer.install()

    failures: list[dict] = []
    passes: list[dict] = []
    # key -> the sorted rows of an output that passed its check; an
    # output with exactly these rows passes without checking it again
    passed: dict = {}
    for index in range(1 + WARM_PASSES):
        if index == 0:
            _reset_scratch(args.sf_dir)
        steal0 = proc.host_steal_s()
        queries_out = []
        for key in stats.pass_order(keys, args.seed, index):
            q = {"key": key, "t0": time.time()}
            usage0 = proc.tree_usage(os.getpid())
            try:
                latency_s, tbl = _run_query(spark, qs[key], key, args.sf_dir, tracer)
            except Exception as e:  # a failing query is counted, not fatal
                q.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            else:
                usage1 = proc.tree_usage(os.getpid())
                q.update(
                    latency_s=latency_s, out_rows=tbl.num_rows,
                    cpu_s=usage1["cpu_s"] - usage0["cpu_s"],
                    write_bytes=usage1["write_bytes"] - usage0["write_bytes"],
                )
                # the check runs after the query's clocks have stopped
                q.update(ok=True, error=None)
                rows = outputs.sorted_rows(tbl)
                same = rows is not None and key in passed and passed[key].equals(rows)
                if not same:
                    ref = refs[key]
                    if isinstance(ref, TopK):
                        why = outputs.topk_mismatch(tbl, ref)
                    else:
                        why = outputs.mismatch(outputs.from_arrow(tbl), ref)
                    q.update(ok=why is None, error=why)
                    if why is None and rows is not None:
                        passed[key] = rows
            q["t1"] = time.time()
            if not q["ok"]:
                failures.append({"pass": index, "key": key, "error": q["error"]})
            queries_out.append(q)
        # a pass's cost is its queries' cost, so the benchmark's own
        # checks between queries are not in it
        rec = {
            "index": index,
            "wall_s": sum(q.get("latency_s", 0.0) for q in queries_out),
            "cpu_s": sum(q.get("cpu_s", 0.0) for q in queries_out),
            "disk_write_bytes": sum(q.get("write_bytes", 0) for q in queries_out),
            "queries": queries_out,
            "host_steal_s": proc.host_steal_s() - steal0,
        }
        if status is not None:
            from perfbench.layers import pass_layers

            rec["layers"] = pass_layers(tracer, status.drain(), queries_out)
        passes.append(rec)
    if args.trace:
        tracer.uninstall()
    return {"passes": passes, "failures": failures, "nproc": proc.nproc()}


if __name__ == "__main__":
    sys.exit(main())
