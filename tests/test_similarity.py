"""Blocked numpy kernels must reproduce the DataFrame brute-force
plans exactly — including bit-identical cosines (the left-fold
order-preservation property of fold_topk / fold_threshold)."""

from __future__ import annotations

import numpy as np

from mapreducenonequijoin_spark.operators.similarity import (
    fold_threshold,
    fold_topk,
    knn_cosine_blocked,
    knn_cosine_brute,
    threshold_similarity_blocked,
    threshold_similarity_join,
)
from mapreducenonequijoin_spark.sources.io import load_table


def _ref_fold(a, b):
    """Every pair's left-fold dot product, one dimension at a time."""
    s = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        s += np.outer(a[:, d], b[:, d])
    return s


def _ref_topk(a, b, a_ids, b_ids, k, exclude_mask=None):
    """Full fold, then one lexsort by (-score, id) per row."""
    s = _ref_fold(a, b)
    out_q, out_n, out_c, out_r = [], [], [], []
    for i in range(len(a_ids)):
        mask = np.ones(len(b_ids), dtype=bool)
        if exclude_mask is not None:
            mask = ~exclude_mask[i]
        cand_n, cand_c = b_ids[mask], s[i][mask]
        order = np.lexsort((cand_n, -cand_c))[:k]
        out_q.extend([a_ids[i]] * len(order))
        out_n.extend(cand_n[order])
        out_c.extend(cand_c[order])
        out_r.extend(range(1, len(order) + 1))
    return (
        np.array(out_q, dtype=np.int64), np.array(out_n, dtype=np.int64),
        np.array(out_c, dtype=np.float64), np.array(out_r, dtype=np.int64),
    )


def _ref_threshold(a, b, tau, pair_mask=None):
    s = _ref_fold(a, b)
    keep = s >= tau
    if pair_mask is not None:
        keep &= pair_mask
    ai, bi = np.nonzero(keep)
    return ai, bi, s[ai, bi]


def _same_bytes(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        g, w = np.asarray(g), np.asarray(w)
        assert g.dtype.itemsize == w.dtype.itemsize
        assert g.astype(w.dtype).tobytes() == w.tobytes()


def _blocks(rng):
    """(a, b, a_ids, b_ids) blocks: float32-sourced vectors, normalised
    or not, with duplicated rows (exact ties) and rows one float64 ulp
    apart, then float64 near ties."""
    for trial in range(24):
        m, n = int(rng.integers(1, 40)), int(rng.integers(1, 60))
        dim = (1, 3, 64)[trial % 3]
        b = rng.standard_normal((n, dim)).astype(np.float32)
        if trial % 2:
            b /= np.linalg.norm(b, axis=1, keepdims=True)
        else:
            b *= rng.uniform(0.01, 100.0, (n, 1)).astype(np.float32)
        b = b.astype(np.float64)
        dup = rng.integers(0, n, n // 3)
        b[rng.integers(0, n, len(dup))] = b[dup]
        if trial % 4 == 1:
            near = rng.integers(0, n, n // 4)
            b[near, 0] = np.nextafter(b[near, 0], np.inf)
        b_ids = rng.permutation(n).astype(np.int64) * 3
        pick = rng.integers(0, n, m)
        a, a_ids = b[pick].copy(), b_ids[pick].copy()
        yield a, b, a_ids, b_ids
    # near ties: full float64 candidates a few ulps apart, so the k-th
    # place and tau fall among pairs whose BLAS and fold scores differ
    # in order (at these shapes BLAS sums in another order than the
    # fold; without the slack the filter drops true members here)
    for m, n in ((5, 7), (3, 20), (100, 200)):
        c = rng.standard_normal(64)
        b = c * (1 + rng.integers(-4, 5, (n, 64)) * 2.0**-52)
        a = rng.standard_normal((m, 64))
        yield a, b, np.arange(m, dtype=np.int64), rng.permutation(n)


def test_fold_topk_matches_full_fold_bytes():
    rng = np.random.default_rng(7)
    for a, b, a_ids, b_ids in _blocks(rng):
        for k in (1, 5, len(b) + 3):
            self_mask = a_ids[:, None] == b_ids[None, :]
            for mask in (None, self_mask):
                _same_bytes(
                    fold_topk(a, b, a_ids, b_ids, k, mask),
                    _ref_topk(a, b, a_ids, b_ids, k, mask),
                )


def test_fold_threshold_matches_full_fold_bytes():
    rng = np.random.default_rng(11)
    for a, b, a_ids, b_ids in _blocks(rng):
        s = _ref_fold(a, b)
        # taus that some pair's fold hits exactly, and a low one
        for tau in (s.flat[int(rng.integers(0, s.size))], np.median(s), -0.5):
            for mask in (None, a_ids[:, None] < b_ids[None, :]):
                _same_bytes(
                    fold_threshold(a, b, tau, mask),
                    _ref_threshold(a, b, tau, mask),
                )


def test_fold_kernels_degenerate_blocks():
    rng = np.random.default_rng(3)
    v = rng.standard_normal((6, 4)).astype(np.float32).astype(np.float64)
    ids = np.arange(6, dtype=np.int64)
    # a row whose only candidate is itself
    one, one_id = v[:1], ids[:1]
    got = fold_topk(one, one, one_id, one_id, 5, one_id[:, None] == one_id)
    assert all(len(x) == 0 for x in got)
    _same_bytes(got, _ref_topk(one, one, one_id, one_id, 5, np.ones((1, 1), bool)))
    # empty blocks, either side
    for a, b, ai, bi in ((v[:0], v, ids[:0], ids), (v, v[:0], ids, ids[:0])):
        _same_bytes(fold_topk(a, b, ai, bi, 3), _ref_topk(a, b, ai, bi, 3))
        _same_bytes(fold_threshold(a, b, 0.1), _ref_threshold(a, b, 0.1))
    # a NaN takes the full-fold fallback: NaN scores rank last
    bad = v.copy()
    bad[2, 1] = np.nan
    for k in (2, 6):
        _same_bytes(
            fold_topk(v, bad, ids, ids, k, ids[:, None] == ids),
            _ref_topk(v, bad, ids, ids, k, ids[:, None] == ids),
        )
    _same_bytes(fold_threshold(v, bad, -1.0), _ref_threshold(v, bad, -1.0))


def test_knn_blocked_equals_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.q_id, r.rank): (r.n_id, r.cosine)
        for r in knn_cosine_blocked(emb, "vec_id", "embedding", k=5).collect()
    }
    want = {
        (r.q_id, r.rank): (r.n_id, r.cosine)
        for r in knn_cosine_brute(emb, "vec_id", "embedding", k=5).collect()
    }
    assert got == want  # exact equality incl. float bits


def test_threshold_blocked_equals_1bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in threshold_similarity_blocked(
            emb, "vec_id", "embedding", 0.3
        ).collect()
    }
    want = {
        (r.a_id, r.b_id): r.cosine
        for r in threshold_similarity_join(emb, "vec_id", "embedding", 0.3).collect()
    }
    assert got == want and len(want) > 0


def test_knn_query_table_large_q_routes_to_ivf(spark):
    """VERDICT r5 item 6: above the max_queries gate, knn_query_table
    must route to the distributed IVF cell-probe plan — same output
    contract, NO cross product / BNLJ at any |Q| — and its recall@k
    against the exact small-|Q| path must clear the IVF floor."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.similarity import knn_query_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)

    # force the fallback with a tiny gate
    approx = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5, max_queries=10
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = approx.collect()
    # output contract: ranks 1..k per query, k rows per query here
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.rank)
    n_queries = queries.count()
    assert len(by_q) == n_queries
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())

    exact = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5
    ).collect()
    truth = {(r.q_id, r.n_id) for r in exact}
    found = {(r.q_id, r.n_id) for r in got}
    recall = len(truth & found) / len(truth)
    # IVF n_probe=2 over 8 cells: empirically ~0.9+ on the fixture;
    # 0.7 is the loud-failure floor, not the expectation
    assert recall >= 0.7, f"IVF recall@5 degraded: {recall:.3f}"


def test_ivf_self_search_recall_floor(spark):
    """Registry-default IVF self-search (8 cells / 6 probes) must hold
    recall@5 >= 0.85 even on the i.i.d.-random fixture vectors (IVF's
    worst case, where recall tracks probed fraction). Measured 0.920
    at sf0.01 (r7); 0.85 is the loud-failure floor the VERDICT gate
    asks for, not the expectation."""
    from mapreducenonequijoin_spark.operators.ivf import ivf_self_search
    from mapreducenonequijoin_spark.operators.similarity import knn_cosine_blocked

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    truth = {
        (r.q_id, r.n_id)
        for r in knn_cosine_blocked(emb, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r.q_id, r.n_id)
        for r in ivf_self_search(emb, "vec_id", "embedding", 5).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.85, f"IVF self-search recall@5 degraded: {recall:.3f}"


def test_hard_negatives_never_same_label(spark, sf_dir):
    """Mined negatives must all carry a different label than their
    anchor, ranks must be dense 1..k, and each anchor's cosines
    non-increasing by rank."""
    from mapreducenonequijoin_spark.operators.similarity import (
        hard_negatives_blocked,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    emb = load_table(spark, str(sf_dir), "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = hard_negatives_blocked(emb, "vec_id", "embedding", "label", k=5).collect()
    per_anchor: dict = {}
    for r in rows:
        assert labels[r.n_id] != labels[r.q_id]
        per_anchor.setdefault(r.q_id, []).append((r.rank, r.cosine))
    for q, rs in per_anchor.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        cos = [c for _, c in rs]
        assert all(a >= b for a, b in zip(cos, cos[1:]))


def test_hard_negatives_equal_dataframe_brute(spark, sf_dir):
    """Exact equality, float bits included, against a DataFrame brute
    plan: cross join, label filter, the SQL left-fold dot product,
    row_number by (-cosine, id)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.functions.vectors import dot_expr
    from mapreducenonequijoin_spark.operators.similarity import (
        hard_negatives_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_lab"),
    )
    b = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"),
        F.col("label").alias("n_lab"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("q_lab") != F.col("n_lab"))
        .withColumn("cosine", dot_expr("q_vec", "n_vec"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )
    want = {(r.q_id, r.rank): (r.n_id, r.cosine) for r in brute.collect()}
    got = {
        (r.q_id, r.rank): (r.n_id, r.cosine)
        for r in hard_negatives_blocked(
            emb, "vec_id", "embedding", "label", k=5
        ).collect()
    }
    assert got == want and len(want) == 5 * emb.count()


def test_diversified_topk_one_per_label(spark, sf_dir):
    """Diversity contract: distinct labels, descending scores, and
    each winner is its label's best-scoring candidate."""
    from mapreducenonequijoin_spark.plans.llm import sim_diversified_topk

    rows = sorted(sim_diversified_topk(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    labels = [r.label for r in rows]
    assert len(set(labels)) == len(labels)
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_knn_recall_gate_row_and_determinism(spark, sf_dir):
    """The serving-recall gate row (VERDICT r8 item 8): exactly one
    row, n_queries equals the probe-set size, the boolean claim holds,
    and a second evaluation is identical (deterministic IVF: lowest-id
    k-means init, fixed iterations — no RNG anywhere on the path)."""
    from mapreducenonequijoin_spark.plans.llm import sim_knn_recall_gate

    r1 = sim_knn_recall_gate(spark, sf_dir).collect()
    assert len(r1) == 1
    row = r1[0]
    assert row.n_queries == 64
    assert row.recall_ge_090 is True
    r2 = sim_knn_recall_gate(spark, sf_dir).collect()
    assert r1 == r2
