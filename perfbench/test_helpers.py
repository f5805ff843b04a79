"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pytest

import numpy as np

from perfbench import metrics, oracle, outputs, stats
from perfbench.stats import Span
from perfbench.trace import parse_metric
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- tail percentile ----------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 31)]  # 1..30, shuffled below
    pct, v = stats.tail(samples[::-1])
    assert v == 20.0  # ranks 21..30 lie beyond it
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(s > v for s in samples) == stats.TAIL_BEYOND


def test_tail_smallest_sample_count_with_a_tail():
    pct, v = stats.tail([float(i) for i in range(11)])
    assert (pct, v) == (pytest.approx(100 / 11), 0.0)


def test_tail_falls_back_to_median():
    assert stats.tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    assert stats.tail([float(i) for i in range(10)]) == (50.0, 4.5)


# -- span self time -----------------------------------------------------------

def _span(sid, parent, t0, t1, depth=0, layer="x"):
    return Span(sid, parent, layer, f"s{sid}", t0, t1, depth)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0, 1),
        _span(2, 0, 4.0, 8.0, 1),
        _span(3, 2, 5.0, 6.0, 2),
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(4.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    # self times of a tree add up to the root's duration
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0, 1), _span(2, 0, 4.0, 8.0, 1)]
    assert stats.self_times(spans)[0] == pytest.approx(4.0)


def test_innermost_picks_deepest_open_span():
    outer, inner = _span(0, None, 0.0, 10.0), _span(1, 0, 0.0, 5.0, 1)
    assert stats.innermost([inner, outer], 2.0) is inner
    assert stats.innermost([inner, outer], 7.0) is outer
    assert stats.innermost([inner, outer], 11.0) is None


# -- output hashing -----------------------------------------------------------

def test_hash_ignores_row_and_column_order():
    a = outputs.canonical(["x", "y"], [(1, "a"), (2, "b")])
    b = outputs.canonical(["y", "x"], [("b", 2), ("a", 1)])
    assert a.digest == b.digest
    assert outputs.mismatch(a, b) is None


def test_hash_normalizes_engine_types():
    utc = dt.timezone.utc
    a = outputs.canonical(["t", "v"], [(dt.datetime(2024, 1, 1, 3, tzinfo=utc), 2.0)])
    b = outputs.canonical(["t", "v"], [(dt.datetime(2024, 1, 1, 3), 2)])
    assert a.digest == b.digest


def test_float_tolerance_and_real_mismatches():
    ref = outputs.canonical(["k", "v"], [(1, 0.1 + 0.2), (2, 5.0)])
    near = outputs.canonical(["k", "v"], [(1, 0.3000000001), (2, 5.0)])
    assert outputs.mismatch(near, ref) is None
    far = outputs.canonical(["k", "v"], [(1, 0.31), (2, 5.0)])
    assert "value mismatch" in outputs.mismatch(far, ref)
    fewer = outputs.canonical(["k", "v"], [(1, 0.3)])
    assert outputs.mismatch(fewer, ref).startswith("rows")
    renamed = outputs.canonical(["k", "w"], [(1, 0.3), (2, 5.0)])
    assert outputs.mismatch(renamed, ref).startswith("columns")


def test_from_arrow_matches_canonical_rows():
    tbl = pa.table({"b": [2, 1], "a": ["y", "x"]})
    assert outputs.from_arrow(tbl).digest == outputs.canonical(
        ["a", "b"], [("x", 1), ("y", 2)]).digest


def test_sorted_rows_ignore_row_and_column_order():
    a = pa.table({"x": [2, 1, 2], "y": ["b", "a", "a"]})
    b = pa.table({"y": ["a", "a", "b"], "x": [1, 2, 2]})
    assert outputs.sorted_rows(a).equals(outputs.sorted_rows(b))
    c = pa.table({"x": [2, 1, 2], "y": ["b", "a", "c"]})
    assert not outputs.sorted_rows(a).equals(outputs.sorted_rows(c))


def test_parse_metric_forms():
    assert parse_metric("1,981") == 1981.0
    assert parse_metric("28.0 KiB") == 28.0 * 1024
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, ...)") == 2.0 * 1024**2


# -- determinism of what the seed fixes ---------------------------------------

def test_pass_order_is_fixed_by_seed_and_pass():
    keys = WORKLOADS["nonequi_join"]
    first = stats.pass_order(keys, 7, 0)
    assert first == stats.pass_order(keys, 7, 0)
    assert sorted(first) == sorted(keys)
    orders = {tuple(stats.pass_order(keys, s, p)) for s in range(5) for p in range(3)}
    assert len(orders) > 1


def test_fixture_sums_match_the_tables():
    tables = oracle.fixture_tables(os.path.join(ROOT, "perfbench", "data", "sf0.1"))
    assert {"events", "documents", "embeddings"} <= set(tables)


# -- near-duplicate references agree with the program's oracle SQL -----------

def test_near_dup_references_match_the_oracle_sql():
    import duckdb

    from mapreducenonequijoin_spark.plans import oracle_sql_map

    rng = np.random.default_rng(3)
    vocab = ["a", "b", "c", "d"]
    texts = [" ".join(rng.choice(vocab, int(rng.integers(1, 9)))) for _ in range(120)]
    ids = list(range(100, 220))
    docs = pa.table({"doc_id": ids, "text": texts})  # noqa: F841 (DuckDB reads it)
    sql = oracle_sql_map()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM docs")
    pairs = oracle.near_dup_pairs(ids, texts)
    assert 0 < len(pairs) < len(ids) * (len(ids) - 1) // 2
    got = {
        "dedup_near_minhash": outputs.canonical(["a_id", "b_id", "jaccard"], pairs),
        "dedup_clusters": outputs.canonical(
            ["doc_id", "cluster_rep"], oracle.components(ids, [(a, b) for a, b, _ in pairs])),
    }
    for key, canon in got.items():
        cur = con.execute(sql[key])
        want = outputs.canonical([d[0] for d in cur.description], cur.fetchall())
        assert canon.digest == want.digest, key


def test_components_label_by_smallest_member():
    assert sorted(oracle.components([5, 3, 9, 7], [(9, 5), (7, 9)])) == [
        (3, 3), (5, 5), (7, 5), (9, 5)]


# -- approximate top-k check --------------------------------------------------

def _topk_ref():
    ids = np.array([30, 10, 20, 40])
    vecs = np.array([[0.0, 1.0], [1.0, 0.0], [1.0, 0.1], [0.9, 0.5]])
    return oracle.exact_topk(ids, vecs, [10], 2, "cosine")


def _topk_out(rows):
    q, n, s, r = zip(*rows)
    return pa.table({"q_id": list(q), "n_id": list(n), "cosine": list(s), "rank": list(r)})


def test_exact_topk_excludes_self():
    ref = _topk_ref()
    assert ref.neighbours == {10: frozenset({20, 40})}
    l2 = oracle.exact_topk(np.array([1, 2, 3]), np.array([[0.0], [1.0], [3.0]]), None, 1, "l2_sq")
    assert l2.neighbours == {1: frozenset({2}), 2: frozenset({1}), 3: frozenset({2})}


def test_topk_check_accepts_exact_and_rejects_wrong_scores():
    ref = _topk_ref()
    good = [(10, 20, ref.score(10, 20), 1), (10, 40, ref.score(10, 40), 2)]
    assert outputs.topk_mismatch(_topk_out(good), ref) is None
    assert "exact" in outputs.topk_mismatch(_topk_out([good[0], (10, 40, 0.5, 2)]), ref)
    assert "rank order" in outputs.topk_mismatch(
        _topk_out([(10, 20, ref.score(10, 20), 2), (10, 40, ref.score(10, 40), 1)]), ref)
    assert outputs.topk_mismatch(_topk_out(good[:1]), ref).startswith("rows")
    self_hit = [(10, 10, 1.0, 1), (10, 20, ref.score(10, 20), 2)]
    assert "hold q_id" in outputs.topk_mismatch(_topk_out(self_hit), ref)
    low = [(10, 20, ref.score(10, 20), 1), (10, 30, ref.score(10, 30), 2)]
    assert outputs.topk_mismatch(_topk_out(low), ref).startswith("recall 0.500")
# -- BENCHMARK.json agrees with the code --------------------------------------

def test_benchmark_json_matches_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
