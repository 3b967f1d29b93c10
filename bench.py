"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the noop sink (executes the whole
plan, no driver collect cost, no column pruning shortcut a bare count()
would allow).

CROSS-ROUND COMPARISON RULE (r8, after two rounds of session-inflation
false alarms): never compare raw per-query seconds across rounds. The
artifact carries `calibration.md5_shuffle_50m_sec` — a fixed synthetic
workload timed with the same min-of-N methodology — so compare
query_sec / calibration_sec instead. A uniform drift in the ratio-free
numbers with an unchanged calibration IS a harness/session effect (more
queries in the session → JVM/GC pressure; r7 measured a uniform 1.26x on
untouched code), not a regression; a query whose RATIO moves >2x with
unchanged code should be re-measured solo (fresh session, min-of-3)
before being believed — see SCALE.md "bench outliers" row.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_optimizer_spark.registry import QUERIES  # noqa: E402
from ai_optimizer_spark.session import get_spark  # noqa: E402
from enginebench.probe import CONTENDED_RATIO  # noqa: E402

HEADLINE = [
    "a5_pricing_summary",
    "a6_customer_standings",
    "a12_rollup_totals",
    "a13_quantile_summary",
    "j10_salted_skew_join",
    "j5_composite_key_join",
    "w3_keep_max_dedup",
    "p4_interval_staleness",
    "v1_cosine_topk",
    "v5_knn_self_join",
    "v10_matmul_knn",
    "v7_ivf_topk",
    "v22_hier_ivf_topk",
    "v8_ivf_knn_join",
    "v13_clustered_ivf_topk",
    "v14_hybrid_rrf_topk",
    "v15_clustered_ivf_knn_join",
    "j11_asof_join",
    "j12_banded_range_join",
    "j13_local_supplier_volume",
    "j14_bucketed_order_revenue",
    "j15_market_share",
    "j20_volume_shipping",
    "j25_waiting_supplier",
    "a21_customer_order_distribution",
    "v17_ivfpq_topk",
    "v20_ivfpq_topk_np",
    "v23_sq8_topk",
    "v24_quantized_clustered_topk",
    "v25_quantized_range_search",
    "v26_quantized_ivf_knn_join",
    "v27_residual_sq8_topk",
    "v27b_residual_clustered_topk",
    "v28_quantization_error_curve",
    "st19_streaming_sq8_ingest",
    "st21_streaming_knn_serving",
    "st4_sliding_window_counts",
    "d1_exact_dedup",
    "d3_minhash_lsh_pairs",
    "d4_simhash_pairs",
    "d6_dedup_clusters",
    "d15_repeated_substrings",
    "d16_cluster_survivors",
    "d17_corpus_dup_profile",
    "d18_semdedup",
    "tx1_token_stats",
    "tx5_chunk_documents",
    "tx8_top_terms",
    "tx9_tfidf_terms",
    "tx11_repetition_stats",
    "tx12_pii_redaction",
    "tx13_bpe_pair_counts",
    "tx16_ngram_perplexity",
    "tx17_gopher_rules",
    "tx18_zipf_fit",
    "tx19_quality_classifier",
    "tx20_tokenizer_fertility",
    "st20_streaming_fertility",
    "d12_decontamination",
    "d19_bloom_decontamination",
    "d20_semantic_decontamination",
    "v12_ann_recall",
    "v16_range_search_pruned",
    "smp5_temperature_mix",
    "smp6_sequence_packing",
    "smp9_token_budget_select",
    "smp10_dsir_importance",
    "smp11_unimax_budget",
    "smp12_curriculum_order",
    "smp13_mixture_epochs",
    "e2e_corpus_assembly",
    "e2e_dedup_cascade",
    "e2e_auto_curation",
    "e2e_decon_report",
    "e2e_dedup_manifest",
    "d21_lsh_recall",
    "d21b_lsh_recall_sampled",
    "d22_lsh_cap_recall_sweep",
    "d24_incremental_lsh_dedup",
    "d25_winnow_pairs",
    "a26_kmv_distinct_shingles",
    "a27_cms_heavy_hitters",
    "a28_kmv_source_overlap",
    "v29_random_projection_topk",
    "v29b_rp_stored_topk",
    "st23_streaming_cms_heavy_hitters",
    "smp14_weighted_sample",
    "t6_token_stream_assembly",
    "st2_sessionize",
    "st11_funnel_steps",
    "a22_cohort_retention",
    "d13_topic_clusters",
    "smp7_leakage_safe_split",
    "e2e_curation_pipeline",
    "e2e_training_export",
    "e2e_vector_search",
    "t9_incremental_rollup",
    "t10_span_index_refresh",
    "t11_cell_stats_refresh",
    "t13_bloom_index_refresh",
    "t14_sq8_store_refresh",
    "t15_cell_split_repair",
    "t16_store_delete_repair",
    "t17_cell_merge_repair",
    "t18_applied_split_serve",
    "t19_repair_plan",
    "t20_kmv_sketch_refresh",
    "t21_cms_sketch_refresh",
    "v30_auto_tier_topk",
    "smp15_mwu_domain_weights",
    "t16b_store_delete_repair_stored",
    "st22_streaming_erasure",
    "t12_drift_monitor",
    "st15_streaming_drift_monitor",
    "v16b_clustered_range_search",
    "v21_dpp_cell_stats",
    "j26_shipping_priority",
    "t22_maintenance_cycle",
    "t23_merge_cycle",
    "t24_store_roundtrip",
    "t25_published_serve",
    "t26_published_split_serve",
    "st24_streaming_maintenance",
    "mm4_wav_stats",
    "mm5_png_stats",
]
N_PASSES = 2  # report min-of-N: isolates plan cost from JIT/codegen warm-up

# Best calibration recorded on a quiet 32-core box (r8's 1.413 s): printed
# for cross-round normalization only. The probe's absolute time depends on
# the machine and its core count, so contention is judged within the run:
# the probe runs before AND after the suite, and a run whose two readings
# differ by more than enginebench's CONTENDED_RATIO shared the box with
# another process while it measured — it SELF-LABELS via "contended": true
# so nobody burns analysis time on spikes from a degraded run.
BEST_CALIBRATION_SEC = 1.413


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def calibration_probe(spark) -> float:
    """Fixed synthetic workload (md5 over range(50M) + one shuffle) timed
    with the same min-of-N methodology as the queries. Pure box-speed
    measurement: round 4 burned real analysis time proving a +25% bench
    'regression' was host drift (round-3's unchanged code reproduced the
    new numbers). Cross-round comparisons should divide by this number
    first — it tracks exactly the CPU-saturating hash work the drift hit
    hardest (d4/tx8/tx12 family)."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(N_PASSES):
        t0 = time.perf_counter()
        probe = (
            spark.range(50_000_000)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy(F.substring("h", 1, 2).alias("b"))
            .count()
        )
        materialize(probe)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ai_optimizer_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # one tiny warm-up action so JVM/codegen startup isn't billed to q1
    spark.range(1).count()

    calibration = calibration_probe(spark)

    # Measurement convenience (r10): SPARK_GRAFT_BENCH_ONLY="a,b,c" times
    # just those queries with the identical methodology (fresh session,
    # min-of-N, noop sink, cache-clear before every pass). Unset => the full
    # headline suite; the driver never sets it, so its artifact is
    # unchanged.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    names = [n.strip() for n in only.split(",") if n.strip()] if only else HEADLINE

    timings: dict[str, float] = {}
    for name in names:
        q = QUERIES.get(name)
        if q is None:
            continue
        best = None
        for _ in range(N_PASSES):
            # Isolate every pass from block-manager residue: operators
            # persist/checkpoint intermediates for intra-query reuse. Left
            # across queries, the accumulated blocks slowed later queries
            # 3-8x (measured on d4); left across passes, pass 2 of an
            # operator whose persists are plan-identical across calls reads
            # pass 1's blocks, understating its cold cost. Real deployments
            # run one query per session lifetime-scope; the bench
            # reproduces that.
            spark.catalog.clearCache()
            gc.collect()
            t0 = time.perf_counter()
            materialize(q(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    spark.catalog.clearCache()
    gc.collect()

    calibration_end = calibration_probe(spark)
    contended = (
        max(calibration, calibration_end) / min(calibration, calibration_end)
        > CONTENDED_RATIO
    )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Key order matters: the driver archives only the LAST 2000 chars of
    # bench output, so the summary scalars (total / calibration / count)
    # must come AFTER the large per-query map — r5 and r6 both lost their
    # calibration values to the truncation, blocking cross-round
    # normalization (VERDICT r6 task 5).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "unit": "sec",
                "queries": timings,
                "value": total,
                "calibration": {
                    "md5_shuffle_50m_sec": calibration,
                    "md5_shuffle_50m_sec_end": calibration_end,
                    "best_recorded_sec": BEST_CALIBRATION_SEC,
                    "contended": contended,
                },
                "n_queries": len(timings),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
