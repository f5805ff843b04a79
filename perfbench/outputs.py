"""Order-insensitive canonical form, hash and comparison of query outputs.

A result (from Spark or from the DuckDB oracle) becomes its sorted
column names plus its rows as tuples of normalized values, sorted. Two
results match when the column names and row counts agree and either
the hashes agree or every value agrees within a float tolerance (the
two engines may sum floats in different orders).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from dataclasses import dataclass

import pyarrow as pa

# Floats are rounded to this many significant digits before hashing;
# the tolerant comparison below catches the rare value that rounds
# across a boundary.
_SIG_DIGITS = 10
_REL_TOL = 1e-6
_ABS_TOL = 1e-9


@dataclass(frozen=True)
class Canon:
    columns: tuple[str, ...]
    rows: tuple[tuple, ...]
    digest: str

    @property
    def n_rows(self) -> int:
        return len(self.rows)


def normalize(v):
    """One value in engine-neutral form: integral numbers as int, other
    numbers as rounded float, timestamps as naive-UTC ISO strings,
    containers as tuples."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
        return normalize(v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return float(f"{v:.{_SIG_DIGITS}g}")
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), normalize(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return normalize(v.item())
    if hasattr(v, "tolist"):  # numpy array
        return normalize(v.tolist())
    return repr(v)


def canonical(columns: list[str], rows: list[tuple]) -> Canon:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = tuple(columns[i] for i in order)
    norm = sorted(
        (tuple(normalize(r[i]) for i in order) for r in rows), key=repr
    )
    digest = hashlib.sha256(repr((cols, norm)).encode()).hexdigest()[:32]
    return Canon(cols, tuple(norm), digest)


def from_arrow(tbl: pa.Table) -> Canon:
    names = tbl.column_names
    cols = [c.to_pylist() for c in tbl.columns]
    return canonical(names, list(zip(*cols)) if cols else [])


def sorted_rows(tbl: pa.Table) -> pa.Table | None:
    """The table with its columns in name order and its rows sorted, so
    that two outputs holding the same rows compare equal with
    ``Table.equals``; None when a column type cannot be sorted."""
    t = tbl.select(sorted(tbl.column_names))
    try:
        return t.sort_by([(c, "ascending") for c in t.column_names])
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        return None


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool):
        return math.isclose(a, b, rel_tol=_REL_TOL, abs_tol=_ABS_TOL)
    return a == b


def mismatch(actual: Canon, expected: Canon) -> str | None:
    """None when ``actual`` matches ``expected``; else the reason."""
    if actual.columns != expected.columns:
        return f"columns {actual.columns} != {expected.columns}"
    if actual.n_rows != expected.n_rows:
        return f"rows {actual.n_rows} != {expected.n_rows}"
    if actual.digest == expected.digest:
        return None
    for i, (a, b) in enumerate(zip(actual.rows, expected.rows)):
        if not _close(a, b):
            return f"value mismatch at sorted row {i}: {a!r} != {b!r}"
    return None


# An approximate top-k output must find at least this share of the
# exact top-k neighbours. On the benchmark's fixture, sim_ivf_search
# finds 0.91 and sim_pq_search 0.80 (``oracle.exact_topk``).
TOPK_RECALL_FLOOR = 0.7
_SCORE_TOL = 1e-5


def topk_mismatch(tbl: pa.Table, ref) -> str | None:
    """None when an approximate top-k output (q_id, n_id, score, rank)
    agrees with the exact search ``ref`` (an ``oracle.TopK``): every
    query has ranks 1..k over k other vectors, each score is the pair's
    exact score, scores are ordered by rank, and the recall of the
    exact top-k is at least ``TOPK_RECALL_FLOOR``; else the reason."""
    need = ["q_id", "n_id", ref.score_column, "rank"]
    if not set(need) <= set(tbl.column_names):
        return f"columns {tbl.column_names} lack one of {need}"
    want_rows = len(ref.neighbours) * ref.k
    if tbl.num_rows != want_rows:
        return f"rows {tbl.num_rows} != {want_rows}"
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    for q, n, s, r in zip(*(tbl.column(c).to_pylist() for c in need)):
        by_q.setdefault(q, []).append((r, n, s))
    if set(by_q) != set(ref.neighbours):
        return "query ids differ from the reference's"
    sign = 1.0 if ref.score_column == "cosine" else -1.0
    found = 0
    for q, hits in by_q.items():
        hits.sort()
        if [r for r, _, _ in hits] != list(range(1, ref.k + 1)):
            return f"q_id {q}: ranks {[r for r, _, _ in hits]}"
        if len({n for _, n, _ in hits}) != ref.k or any(n == q for _, n, _ in hits):
            return f"q_id {q}: neighbours {[n for _, n, _ in hits]} repeat or hold q_id"
        for _, n, s in hits:
            exact = ref.score(q, n)
            if not math.isclose(s, exact, rel_tol=_SCORE_TOL, abs_tol=_SCORE_TOL):
                return f"q_id {q} n_id {n}: {ref.score_column} {s!r} != exact {exact!r}"
        scores = [sign * s for _, _, s in hits]
        if any(b > a + _SCORE_TOL for a, b in zip(scores, scores[1:])):
            return f"q_id {q}: scores out of rank order"
        found += len({n for _, n, _ in hits} & ref.neighbours[q])
    recall = found / want_rows
    if recall < TOPK_RECALL_FLOOR:
        return f"recall {recall:.3f} < {TOPK_RECALL_FLOOR}"
    return None
