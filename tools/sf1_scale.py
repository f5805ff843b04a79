"""sf1.0 spot-bench of the five heaviest bench queries (VERDICT r6
item 7): confirm the O(input) shuffle claims hold another 10× above
the per-round bench scale.

No sf1.0 fixture ships, so this synthesizes one: each needed table is
10 copies of its sf0.1 twin with per-copy KEY OFFSETS applied
consistently across tables (copy i shifts every orderkey/custkey/
suppkey/doc_id/event_id/user_id by i·stride), so FK joins stay intact
within a copy and the workload is exactly 10 independent sf0.1 shards
— the right null model for "does the shuffle ratio stay flat at 10×".
Document text gets a per-copy prefix so the dedup candidate structure
scales linearly (identical cross-copy texts would multiply near-dup
pairs ~100× — a change to the INPUT's complexity class, not the
algorithm's).

Measures, per query: wall-clock, records shuffled (all SQL executions,
tools/shuffle_audit.measure), input rows, and the shuffled/input
ratio; the streaming row reports state rows instead of shuffle.
Paste the table into SCALE.md.

Usage: python tools/sf1_scale.py [--queries q1,q2,...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from mapreducenonequijoin_spark.session import get_spark  # noqa: E402
from mapreducenonequijoin_spark.sources.io import load_table  # noqa: E402
from mapreducenonequijoin_spark.plans import QUERIES  # noqa: E402
from mapreducenonequijoin_spark.streaming import windows as W  # noqa: E402
from shuffle_audit import measure  # noqa: E402

SF_SRC = "/root/testdata/sf0.1"
SF1_DIR = "/tmp/mrnej_sf1"
COPIES = 10
STRIDE = 10_000_000  # far above any sf0.1 key

# key columns to offset, per table (consistent across tables → FKs
# stay valid within a copy)
_OFFSETS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    # copies share identical vectors (cross-copy cosine 1.0) — fine
    # for throughput shape; the kNN router gates to IVF at this size
    "embeddings": ["vec_id"],
}
# tiny dims replicate WITHOUT offsets (copies share them, as a real
# 10x load would share nation/region)
_SHARED = ["nation", "region"]

DEFAULT_QUERIES = [
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "tpch_q21_waiting_supplier",
    "tpch_q5_local_supplier_volume",
    "stream_stream_band_join",
]

# input tables per query (for the input-row denominator)
_INPUTS = {
    "dedup_clusters": ["documents"],
    "dedup_ngram_jaccard": ["documents"],
    "tpch_q21_waiting_supplier": ["lineitem", "orders", "supplier", "nation"],
    "tpch_q5_local_supplier_volume": [
        "lineitem", "orders", "customer", "supplier", "nation", "region",
    ],
    "stream_stream_band_join": ["events"],
    # r7-late additions
    "dedup_containment": ["documents"],
    "multimodal_image_phash": ["documents"],
    "sample_poisson_bootstrap": ["lineitem"],
    "dedup_url_canonical": ["documents"],
    "graph_label_propagation": ["orders", "lineitem"],
    "stream_left_outer_interval": ["events"],
    # r7-close additions
    "graph_k_core": ["lineitem"],
    "eval_ndcg_at_k": ["embeddings"],
    "eval_auc_rank_sum": ["embeddings"],
    "text_bigram_kneser_ney": ["documents"],
    "pipeline_dataset_card": ["documents"],
    # r8 additions (VERDICT r7 item 6)
    "dedup_substring_spans": ["documents"],
    "graph_connected_components": ["orders", "lineitem"],
    # r9 additions (VERDICT r8 items 2+4)
    "graph_cc_distributed": ["orders", "lineitem"],
    "graph_cc_incremental": ["orders", "lineitem"],
    "tokenizer_bpe_merges": ["documents"],
    "text_perplexity_filter": ["documents"],
    "text_ngram_novelty": ["documents"],
    "eval_bleu2": ["documents"],
    "multimodal_video_scene_cut": ["documents"],
    # r9 late-session additions
    "graph_modularity": ["orders", "lineitem"],
    "graph_assortativity": ["orders", "lineitem"],
    "eval_fleiss_kappa": ["documents"],
    "text_feature_hashing": ["documents"],
    "timeseries_bollinger_breakout": ["events"],
    "timeseries_stl_strength": ["events"],
    "multimodal_image_histogram": ["documents"],
    "join_asof_interpolated": ["events"],
    "text_lexical_diversity": ["documents"],
    # r10 additions
    "set_intersect_all": ["orders"],
    "agg_hll_sketch_gate": ["orders"],
    "timeseries_counter_rate": ["events"],
    "eval_krippendorff_alpha": ["documents"],
    "feature_ols_normal_equations": ["lineitem"],
    "graph_katz_centrality": ["orders", "lineitem"],
    "stream_late_accounting_gate": ["events"],
    # r9 eval/stats cohort (VERDICT r9 item 6 — O(1)-output aggs)
    "eval_welch_ttest": ["events"],
    "eval_chi_square": ["documents"],
    "eval_mcnemar": ["embeddings"],
    "eval_spearman_rho": ["documents"],
    "eval_cohens_kappa": ["embeddings"],
    "eval_rouge_recall": ["documents"],
    "eval_token_f1": ["documents"],
    "eval_auc_pr": ["embeddings"],
    "eval_psi": ["embeddings"],
    "eval_ece": ["embeddings"],
    # r10b additions
    "eval_cramers_v": ["orders"],
    "eval_gain_lift": ["embeddings"],
    "eval_ks_statistic": ["events"],
    "graph_hits": ["orders", "lineitem"],
    "timeseries_hampel_filter": ["events"],
    "sub_any_all": ["customer", "supplier"],
    "sample_universe_consistent": ["events"],
    "text_zipf_fit": ["documents"],
    # r10c additions
    "dedup_minhash_estimate_gate": ["documents"],
    "eval_jensen_shannon": ["documents"],
    "sample_time_decay": ["events"],
    "agg_basket_lift": ["lineitem"],
    "text_rake_keywords": ["documents"],
    # r10d additions
    "sql_recursive_cte": ["part"],
    "multimodal_image_tiles": ["documents"],
    "warehouse_branch_refs": ["orders"],
    # r10e additions
    "win_interval_coalesce": ["events"],
    "stream_epoch_replay_gate": ["events"],
    "eval_bootstrap_ci_mean": ["lineitem"],
    "win_skyline_pareto": ["part"],
    "eval_roc_points": ["embeddings"],
    # r11 additions
    "agg_basket_lift_capped": ["lineitem"],
    "pipeline_corpus_curate": ["documents"],
    "pipeline_user_journey": ["events"],
    "eval_matthews_corr": ["embeddings"],
    "eval_log_loss": ["embeddings"],
    "pipeline_revenue_abc_report": ["lineitem", "part"],
    "stream_transform_with_state": ["events"],
    "feature_pca_gramian": ["embeddings"],
    "dedup_phash_hamming": ["documents"],
    # r12 additions
    "pipeline_retrieval_eval": ["embeddings"],
    "win_cumulative_share": ["lineitem"],
    "eval_rank_biased_overlap": ["embeddings"],
    "feature_woe_encoding": ["documents"],
    "dedup_bloom_prescreen": ["documents"],
    "multimodal_image_normalize": ["documents"],
    "graph_personalized_pagerank": ["orders", "lineitem"],
    "stream_full_outer_interval": ["events"],
    "graph_adamic_adar": ["lineitem"],
    "sql_parameterized_query": ["orders"],
    "sample_ab_assignment": ["events"],
    "timeseries_sax_symbols": ["events"],
    "fn_array_hof": ["embeddings"],
    "pipeline_stream_alerting": ["events"],
    "agg_hll_intersection_gate": ["orders"],
    "eval_regression_metrics": ["lineitem"],
    "agg_percentile_disc": ["lineitem"],
    "warehouse_deletion_vectors": ["orders"],
    "pipeline_warehouse_mor_lifecycle": ["orders"],
    "agg_count_min_sketch": ["orders"],
    "feature_quantile_binning": ["lineitem"],
    "dedup_entity_resolution": ["customer"],
    "pipeline_multimodal_dedup": ["documents"],
    "pipeline_tokenize_pack_shard": ["documents"],
    "pipeline_rag_context": ["documents"],
    # r14 additions
    "pipeline_stream_incident_funnel": ["events"],
    "warehouse_compaction": ["orders"],
    "dedup_semdedup": ["embeddings"],
    "feature_target_encode_oof": ["orders", "customer"],
}


def _graph_cc_distributed(spark, sf_dir: str):
    """NOT a registry query — the measurement harness for VERDICT r8
    item 2: the distributed pointer-jumping CC loop
    (operators/dedup._cc_loop) is shadowed at every current bench
    scale by the 200k-edge local union-find gate, so this row forces
    ``stats.LOCAL_CC_EDGES = 0`` on a DENSER variant of the
    graph_connected_components trade graph (no %19 order sampling →
    ~100× the edges) and puts the loop's wall + shuffle ratio back
    under measurement."""
    from mapreducenonequijoin_spark.operators import stats
    from mapreducenonequijoin_spark.operators.dedup import (
        connected_components,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_suppkey") % 10 == F.col("o_custkey") % 10)
        .select(
            (F.col("o_custkey") + 1).cast("long").alias("src"),
            (-(F.col("l_suppkey") + 1)).cast("long").alias("dst"),
        )
        .distinct()
    )
    verts = (
        e0.select(F.col("src").alias("v"))
        .unionByName(e0.select(F.col("dst").alias("v")))
        .distinct()
    )
    # the gate is read (and the loop run) inside the call
    gate, stats.LOCAL_CC_EDGES = stats.LOCAL_CC_EDGES, 0
    try:
        return connected_components(verts, e0, "v", "src", "dst")
    finally:
        stats.LOCAL_CC_EDGES = gate


# non-registry measurement harnesses, keyed like queries
_EXTRA_FNS = {"graph_cc_distributed": _graph_cc_distributed}


def build_sf1(spark) -> None:
    os.makedirs(SF1_DIR, exist_ok=True)
    for tbl in list(_OFFSETS) + _SHARED:
        dest = f"{SF1_DIR}/{tbl}.parquet"
        if os.path.exists(dest):
            continue
        base = load_table(spark, SF_SRC, tbl)
        if tbl in _SHARED:
            base.write.mode("overwrite").parquet(dest)
            continue
        parts = []
        for i in range(COPIES):
            c = base
            for col in _OFFSETS[tbl]:
                c = c.withColumn(col, F.col(col) + F.lit(i * STRIDE))
            if tbl == "documents" and i > 0:
                # suffix EVERY word with the copy tag: shingles are
                # word 3-grams, so a prefix-only perturbation would
                # leave cross-copy Jaccard ≈ 1 and make every doc a
                # genuine near-dup of its 9 siblings (measured: ×258
                # shuffle growth — real input behavior, wrong null
                # model). Per-word suffixes decorrelate every shingle
                # while preserving within-copy dedup structure exactly.
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", rf"$1{i}")
                )
            parts.append(c)
        out = parts[0]
        for c in parts[1:]:
            out = out.unionByName(c)
        if tbl == "events":
            # events_stream symlinks {sf_dir}/events.parquet into its
            # staging dir — must be a single FILE like the fixture, not
            # a Spark output directory (the file stream does not
            # recurse into non-partition subdirectories)
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.write_table(pa.Table.from_pandas(out.toPandas()), dest)
        else:
            out.write.mode("overwrite").parquet(dest)
        print(f"built {tbl}: {spark.read.parquet(dest).count():,} rows",
              file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    args = ap.parse_args()
    names = args.queries.split(",")

    spark = get_spark("sf1-scale")
    spark.sparkContext.setLogLevel("ERROR")
    build_sf1(spark)

    print("| query | wall s | shuffled records | input rows | ratio | note |")
    print("| --- | --- | --- | --- | --- | --- |")
    for name in names:
        n_in = sum(
            spark.read.parquet(f"{SF1_DIR}/{t}.parquet").count()
            for t in _INPUTS[name]
        )
        t0 = time.time()
        if name.startswith("stream_"):
            W.LAST_STATE_OPERATORS.clear()
            out = QUERIES[name].fn(spark, SF1_DIR).count()
            wall = time.time() - t0
            srows = sum(o.get("numRowsTotal", 0) for o in W.LAST_STATE_OPERATORS)
            print(
                f"| {name} | {wall:6.1f} | (streaming) | {n_in:,} | - |"
                f" state rows {srows:,}, out {out:,} |"
            )
            continue
        fn = _EXTRA_FNS.get(name) or QUERIES[name].fn
        m = measure(spark, fn, SF1_DIR)
        wall = time.time() - t0
        ratio = m["shuffle_records"] / n_in if n_in else 0.0
        print(
            f"| {name} | {wall:6.1f} | {int(m['shuffle_records']):,} |"
            f" {n_in:,} | ×{ratio:.2f} | {m['executions']} execs |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
