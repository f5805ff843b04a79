"""A repeated query compiles nothing: once a round of queries has run,
the session's codegen cache (``session.CODEGEN_CACHE_ENTRIES``) holds
every class they generate, so the same round again reuses all of them.

The third round is the one checked: ``dedup_clusters`` caches a frame
on its first run, and its plan (and generated code) reads that cache
from the second run on. A cache smaller than the rounds' working set
fails this, and so does any plan that puts a per-build value into its
generated code.
"""

from __future__ import annotations

import time

import pytest

from __spark_entry__ import queries
from perfbench.workloads import WORKLOADS

KEYS = [key for keys in WORKLOADS.values() for key in keys]


@pytest.mark.slow
def test_third_round_of_bench_keys_compiles_nothing(spark, sf_dir):
    qs = queries()
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    per_round = []
    for _ in range(3):
        before = compiles.getCount()
        for key in KEYS:
            qs[key](spark, sf_dir).toArrow()
        per_round.append(compiles.getCount() - before)
    assert per_round[2] == 0, per_round

    # the counter is live: a literal never seen before is new code
    before = compiles.getCount()
    spark.range(3).selectExpr(f"id * {time.time_ns()} AS x").collect()
    assert compiles.getCount() > before
