"""Reference outputs for a workload's keys, made without the program.

A key with an oracle SQL twin gets the DuckDB result of that SQL over
the same fixture files, in canonical form. The memo entry is keyed by
the SQL text plus the fixture tables' SHA-256 sums, so a change to
either misses and recomputes. An approximate top-k key gets the exact
top-k of a numpy search over the same embeddings (``topk_reference``).
"""

from __future__ import annotations

import hashlib
import os
import pickle
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq

from . import outputs

SUMS_FILE = "SHA256SUMS"


def fixture_tables(sf_dir: str) -> dict[str, str]:
    """Table name -> SHA-256 of its Parquet file, as listed in the
    fixture directory's ``SHA256SUMS``; raises if a file differs."""
    sums: dict[str, str] = {}
    with open(os.path.join(sf_dir, SUMS_FILE)) as fh:
        for line in fh:
            digest, fname = line.split()
            with open(os.path.join(sf_dir, fname), "rb") as data:
                actual = hashlib.sha256(data.read()).hexdigest()
            if actual != digest:
                raise ValueError(f"{fname}: sha256 {actual} != listed {digest}")
            sums[fname.removesuffix(".parquet")] = digest
    return sums


def _memo(cache_dir: str, ident: str, tables: dict[str, str], compute):
    """``compute()``, memoised on disk under ``ident`` plus the fixture
    tables' sums."""
    sums = "\0".join(f"{t}={d}" for t, d in sorted(tables.items()))
    h = hashlib.sha256(f"{sums}\0{ident}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{h}.pkl")
    if os.path.exists(path):
        # only this module writes these files
        with open(path, "rb") as fh:
            return pickle.load(fh)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(value, fh)
    os.replace(tmp, path)
    return value


def references(
    keys: list[str], oracle_sql: dict[str, str], sf_dir: str, cache_dir: str
) -> dict[str, outputs.Canon]:
    """Canonical DuckDB result per key that has an oracle."""
    tables = fixture_tables(sf_dir)
    con = None

    def run(sql: str) -> outputs.Canon:
        nonlocal con
        if con is None:
            con = duckdb.connect()
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')"
                )
        cur = con.execute(sql)
        return outputs.canonical([d[0] for d in cur.description], cur.fetchall())

    try:
        return {
            key: _memo(cache_dir, oracle_sql[key], tables, lambda: run(oracle_sql[key]))
            for key in keys if key in oracle_sql
        }
    finally:
        if con is not None:
            con.close()


@dataclass(frozen=True)
class TopK:
    """Exact search results an approximate top-k output is checked
    against: ``neighbours[q]`` is query ``q``'s exact top-k (self
    excluded), ``score(q, n)`` the exact score of any pair."""

    k: int
    score_column: str
    neighbours: dict[int, frozenset[int]]
    ids: np.ndarray
    vectors: np.ndarray

    def score(self, q: int, n: int) -> float:
        pos = np.searchsorted(self.ids, [q, n])
        a, b = self.vectors[pos[0]], self.vectors[pos[1]]
        if self.score_column == "cosine":
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        return float(((a - b) ** 2).sum())


def exact_topk(ids: np.ndarray, vectors: np.ndarray, query_ids, k: int,
               score_column: str) -> TopK:
    """Brute-force top-k neighbours (self excluded) of each query id:
    highest cosine or lowest squared L2 distance."""
    order = np.argsort(ids)
    ids, vectors = ids[order], vectors[order]
    qs = ids if query_ids is None else np.asarray(query_ids)
    q = vectors[np.searchsorted(ids, qs)]
    if score_column == "cosine":
        unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
        cost = -(q / np.linalg.norm(q, axis=1, keepdims=True)) @ unit.T
    else:
        cost = (q * q).sum(1)[:, None] - 2 * q @ vectors.T + (vectors * vectors).sum(1)
    cost[np.arange(len(qs)), np.searchsorted(ids, qs)] = np.inf
    top = np.argpartition(cost, k, axis=1)[:, :k]
    neighbours = {int(qid): frozenset(int(x) for x in ids[row]) for qid, row in zip(qs, top)}
    return TopK(k, score_column, neighbours, ids, vectors)


def topk_reference(sf_dir: str, spec: dict) -> TopK:
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = emb.column("vec_id").to_numpy()
    vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    return exact_topk(ids, vectors, spec["query_ids"], spec["k"], spec["score"])


# -- near-duplicate documents -------------------------------------------------
# The oracle SQL of dedup_clusters (and of dedup_near_minhash, its
# first step) compares every pair of documents, which DuckDB cannot
# finish in minutes at the benchmark's 5,000 documents. These compute
# the same results exactly, with a prefix filter in place of the
# all-pairs scan: word-trigram shingle sets, pairs with Jaccard >= the
# threshold, and connected components labelled by their smallest doc_id.

def shingles(text: str) -> frozenset[str]:
    """Distinct word trigrams of a text split on single spaces, or the
    whole text when it has fewer than three words (as the oracle SQL)."""
    words = text.split(" ")
    if len(words) < 3:
        return frozenset([text])
    return frozenset(" ".join(words[i:i + 3]) for i in range(len(words) - 2))


def near_dup_pairs(doc_ids: list[int], texts: list[str],
                   num: int = 1, den: int = 2) -> list[tuple[int, int, float]]:
    """(a_id, b_id, jaccard) for every pair a_id < b_id whose shingle
    sets have Jaccard >= num/den. A pair with Jaccard >= t shares a
    shingle within the first |x| - ceil(t|x|) + 1 shingles of each set
    in one global order, so only pairs sharing such a prefix shingle are
    compared."""
    sets = [shingles(t) for t in texts]
    freq: dict[str, int] = {}
    for s in sets:
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    index: dict[str, list[int]] = {}
    candidates: set[tuple[int, int]] = set()
    for i, s in enumerate(sets):
        ordered = sorted(s, key=lambda g: (freq[g], g))
        prefix = len(s) - -(-num * len(s) // den) + 1
        for g in ordered[:prefix]:
            for j in index.setdefault(g, []):
                candidates.add((j, i))
            index[g].append(i)
    out = []
    for j, i in candidates:
        inter = len(sets[i] & sets[j])
        union = len(sets[i]) + len(sets[j]) - inter
        if den * inter >= num * union:
            a, b = sorted((doc_ids[i], doc_ids[j]))
            out.append((a, b, float(inter) / float(union)))
    return out


def components(vertices: list[int], edges) -> list[tuple[int, int]]:
    """(vertex, smallest vertex of its connected component), by
    union-find."""
    parent = {v: v for v in vertices}

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in vertices]


def clusters_reference(sf_dir: str, cache_dir: str) -> outputs.Canon:
    """Reference output of ``dedup_clusters``, memoised like the DuckDB
    results."""

    def compute() -> outputs.Canon:
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        ids, texts = docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
        pairs = near_dup_pairs(ids, texts)
        return outputs.canonical(
            ["doc_id", "cluster_rep"], components(ids, ((a, b) for a, b, _ in pairs)))

    return _memo(cache_dir, "dedup_clusters jaccard>=1/2", fixture_tables(sf_dir), compute)
