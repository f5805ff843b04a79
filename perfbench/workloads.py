"""The benchmark's workloads: which registry keys each pass runs, and
what the run checks the keys without a DuckDB oracle against.

Every run starts a fresh JVM and runs one cold and ``WARM_PASSES`` warm
passes over the fixture tables in ``data/sf0.1``. The key lists are
sized so that all runs of both workloads fit the benchmark's total time
budget on a 4-CPU host: six keys each, 24 warm query samples a run.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # The paper's operator family: band self-join, theta join
    # (1-Bucket-Theta), inequality join (M-Bucket-I), as-of, interval
    # overlap and edit-distance join. The work is in operators.joins
    # (statistics probes on the cold pass, bucketed shuffle rewrites)
    # and operators.editdist; no Python boundary, no streaming.
    "nonequi_join": [
        "join_self_band",
        "join_theta",
        "join_inequality",
        "join_asof",
        "join_interval_overlap",
        "join_string_edit_distance",
    ],
    # Corpus dedup and vector retrieval below every driver-local gate:
    # the mapInPandas/applyInPandas boundary and the local fast paths
    # (MinHash pairs then union-find connected components, exact kNN,
    # local k-means fit) in operators.dedup, .similarity, .ivf, .pq and
    # .multimodal, beside one plain Spark SQL retrieval (BM25); no
    # joins-layer calls.
    "llm_datapipe": [
        "dedup_clusters",
        "text_bm25_search",
        "sim_knn_cosine",
        "sim_ivf_search",
        "sim_pq_search",
        "multimodal_audio_decode",
    ],
}

# Every run measures exactly this many warm passes, so every run of a
# workload yields the same number of query samples.
WARM_PASSES = 4

# Keys whose output is an approximate top-k search over the embeddings
# and so has no exact oracle: the query vector ids (None: every vector),
# k and the score column, as the program's query sets them. Their
# outputs are checked against an exact numpy search over the same
# embeddings (``oracle.topk_reference``, ``outputs.topk_mismatch``).
APPROX_TOPK: dict[str, dict] = {
    "sim_ivf_search": {"query_ids": None, "k": 5, "score": "cosine"},
    "sim_pq_search": {"query_ids": list(range(8)), "k": 5, "score": "l2_sq"},
}
