"""The [OR11] statistics step, and every local-vs-distributed size gate.

Every count and quantile an operator plans from is taken here, once:
the memo key is the frame's Catalyst semantic hash plus a stamp of its
input files (path, size, mtime), so repeated plan builds over the same
data pay no scan, while a rewritten input misses the memo instead of
serving its old statistics. On a real deployment this is where
catalog/CBO statistics plug in. Fitted model state (k-means centroids,
PQ codebooks) is memoised through the same ``memo``, so a warm query
over unchanged files re-fits nothing.

The routing thresholds live here too: at or below each, the operator
takes its driver-local (or native) route; above, the distributed one.
Tests force the distributed route by setting a threshold to 0.
"""

from __future__ import annotations

import hashlib
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

NAIVE_PAIRS = 4_000_000  # theta_join: |L|·|R| the native non-equi plan handles cheaply
LOCAL_KMEANS_CELLS = 2_000_000  # kmeans_lite: rows × dim fitted on the driver (~16 MB float64)
EXACT_KNN_ROWS = 200_000  # knn_cosine: rows the exact blocked kernel replicates per block
LOCAL_CC_EDGES = 200_000  # connected_components: symmetrized edges for driver union-find

_MEMO: dict[tuple, object] = {}


def file_stamp(paths: list[str]) -> str:
    """Digest of (path, size, mtime_ns) over ``paths``, local paths or
    URIs as ``DataFrame.inputFiles()`` returns them; a file on a
    non-local filesystem is stamped by its path alone."""
    stamp = []
    for p in sorted(paths):
        u = urlparse(p)
        if u.scheme in ("", "file"):
            st = os.stat(unquote(u.path))
            p = f"{p}:{st.st_size}:{st.st_mtime_ns}"
        stamp.append(p)
    return hashlib.md5("|".join(stamp).encode()).hexdigest()


def memo(df: DataFrame, key: tuple, compute):
    """``compute()``, memoised per (``key``, plan of ``df``, input files):
    the one cache for anything derived from a frame's data, statistics
    and fitted model state alike. ``key`` must name every parameter the
    value depends on besides ``df`` itself."""
    k = (*key, df.semanticHash(), file_stamp(df.inputFiles()))
    if k not in _MEMO:
        _MEMO[k] = compute()
    return _MEMO[k]


def count(df: DataFrame) -> int:
    return memo(df, ("count",), df.count)


def count_upto(df: DataFrame, cap: int) -> int:
    """Row count if it is at most ``cap``, else ``cap + 1``: a gate
    probe that never scans past the gate."""
    return memo(df, ("upto", cap), lambda: df.limit(cap + 1).count())


def quantiles(df: DataFrame, col: str, b: int) -> list[float]:
    """The distinct approximate ``i/b`` quantiles of ``col``, ascending:
    equi-depth bucket boundaries for ``b`` buckets."""
    probs = [i / b for i in range(1, b)]
    return memo(
        df, ("quantiles", col, b),
        lambda: sorted(set(df.approxQuantile(col, probs, 0.001))),
    )
