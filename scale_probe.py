"""Scaling probe: measure how the heavy operators behave when the corpus
grows WELL past the driver's largest fixture (sf0.1 = 5k docs / 5k vectors).

Correctness always runs on the driver fixtures (TESTDATA.md); this probe
exists only to MEASURE throughput scaling — it synthesizes a larger corpus
in /tmp (never touching /root/testdata) by tiling the sf0.1 tables with
shifted ids and perturbed embeddings, then times the operators whose scale
story matters most (LSH dedup cascade, blocked simhash, connected
components, curation e2e, matmul kNN, sequence packing) at 1x / 4x / 16x.

A near-linear time ratio between sizes is the evidence the "linear
candidate generation / no all-pairs / map-only assignment" claims rest on;
a superlinear blow-up would expose a hidden quadratic term. Results are
recorded in SCALE.md.

Run: python scale_probe.py  (~10 min, run solo — see verify skill timing
discipline).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from ai_optimizer_spark.registry import QUERIES
from ai_optimizer_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/scale_probe"
# FACTORS=16,64 overrides the default ladder (e.g. a targeted 64x run to
# extend a specific op's curve two more doublings)
FACTORS = tuple(
    int(f) for f in os.environ.get("FACTORS", "1,4,16").split(",")
)
OPS = [
    "d1_exact_dedup",
    "d3_minhash_lsh_pairs",
    "d3c_minhash_lsh_capped",
    "d4_simhash_pairs",
    "d6_dedup_clusters",
    "d15_repeated_substrings",
    "d16_cluster_survivors",
    "d17_corpus_dup_profile",
    "d18_semdedup",
    "d19_bloom_decontamination",
    "d20_semantic_decontamination",
    "e2e_curation_pipeline",
    "e2e_corpus_assembly",
    "e2e_dedup_cascade",
    "e2e_dedup_manifest",
    "e2e_auto_curation",
    "e2e_decon_report",
    "v10_matmul_knn",
    "v17_ivfpq_topk",
    "v20_ivfpq_topk_np",
    "v23_sq8_topk",
    "v24_quantized_clustered_topk",
    "a27_cms_heavy_hitters",
    "a28_kmv_source_overlap",
    "v29_random_projection_topk",
    "v29b_rp_stored_topk",
    "smp14_weighted_sample",
    "v25_quantized_range_search",
    "v26_quantized_ivf_knn_join",
    "v27_residual_sq8_topk",
    "t16_store_delete_repair",
    "d24_incremental_lsh_dedup",
    "d25_winnow_pairs",
    "st21_streaming_knn_serving",
    "t17_cell_merge_repair",
    "a26_kmv_distinct_shingles",
    "v28_quantization_error_curve",
    "v27b_residual_clustered_topk",
    "t16b_store_delete_repair_stored",
    "st22_streaming_erasure",
    "smp6_sequence_packing",
    "smp9_token_budget_select",
    "smp10_dsir_importance",
    "smp11_unimax_budget",
    "smp12_curriculum_order",
    "smp13_mixture_epochs",
    "tx13_bpe_pair_counts",
    "tx16_ngram_perplexity",
    "tx18_zipf_fit",
    "tx19_quality_classifier",
    "tx20_tokenizer_fertility",
    # incremental-maintenance family: the write paths behind the serving
    # tiers — cost must track the delta/affected set, not the corpus
    "t10_span_index_refresh",
    "t13_bloom_index_refresh",
    "t14_sq8_store_refresh",
    "t15_cell_split_repair",
    "t18_applied_split_serve",
    "t22_maintenance_cycle",
    "t23_merge_cycle",
    "t24_store_roundtrip",
    "t19_repair_plan",
    "t20_kmv_sketch_refresh",
    "t21_cms_sketch_refresh",
    "v30_auto_tier_topk",
    "smp15_mwu_domain_weights",
    "t11_cell_stats_refresh",
    "t12_drift_monitor",
    # events family (VERDICT r3 task #7): per-user chained aggregates —
    # tiles shift user_id so the user population grows with the corpus
    # while per-user behavior (funnel depth, cohort shape, session
    # structure) stays constant, as in a real product's growth
    "st11_funnel_steps",
    "a22_cohort_retention",
    "t8_scd2_history",
    "st4_sliding_window_counts",
]
# tables the probed ops read; everything else is symlink-copied once
TILED = ("documents", "embeddings", "events")
PASSTHROUGH = (
    "region nation customer supplier part orders lineitem".split()
)


def build_tile(spark, factor: int) -> str:
    out = f"{WORK}/x{factor}"
    if os.path.isdir(out):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_docs = docs.count()
    n_emb = emb.count()
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1
    tiles_d = []
    tiles_e = []
    tiles_ev = []
    for i in range(factor):
        # shift ids per tile; interleave a tile-specific marker token after
        # every 4th word so tiles are semantically DISTINCT (cross-tile
        # Jaccard/simhash similarity collapses) while each tile keeps the
        # fixture's internal near-dup structure — true near-dup density
        # stays constant as the corpus grows, which is what a real corpus
        # does; without this the tiling itself manufactures O(factor²)
        # genuine near-dup pairs and every dedup op is output-bound
        marked = F.regexp_replace(
            F.col("text"), r"((?:\S+\s+){4})", f"$1zz{i}tile "
        )
        tiles_d.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                marked.alias("text"),
                "source",
                "lang",
                "n_chars",
            )
        )
        # shift user ids per tile: the user POPULATION grows with the
        # corpus, each user's event history is unchanged — constant
        # per-user density, linearly growing output (like doc tiling)
        tiles_ev.append(
            ev.select(
                (F.col("event_id") + F.lit(i * n_ev)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * n_users)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
        # perturb one dimension deterministically so vectors differ per tile
        tiles_e.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x, j: x + (j == 0).cast("float") * (i * 1e-3)
                ).alias("embedding"),
                "label",
            )
        )
    d = tiles_d[0]
    for t in tiles_d[1:]:
        d = d.unionByName(t)
    e = tiles_e[0]
    for t in tiles_e[1:]:
        e = e.unionByName(t)
    v = tiles_ev[0]
    for t in tiles_ev[1:]:
        v = v.unionByName(t)
    d.repartition(max(factor, 4)).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    e.repartition(max(factor, 4)).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    v.repartition(max(factor, 4)).write.mode("overwrite").parquet(
        f"{out}/events.parquet"
    )
    for t in PASSTHROUGH:
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    return out


# serving tiers (VERDICT r4 task 5): the stored layout is built ONCE per
# factor (timed separately as store_build_sec), then query time is measured
# on its own — the claim under test is that the stored-radii range search
# (v16b) and DPP stats (v21) stay near-flat as the corpus grows, while the
# query-time-bound form (v16) re-aggregates the corpus per query and grows
# with it. This is the write-path/read-path split BENCH_r04 validated at
# sf0.1 (0.82 s vs 3.92 s), proven here across 1x/4x/16x.
SERVING_OPS = [
    "v16_range_search_pruned",
    "v16b_clustered_range_search",
    "v21_dpp_cell_stats",
]


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    from ai_optimizer_spark.plans.bucketing import (
        ensure_cell_radii,
        ensure_clustered_store,
    )

    # ONLY=op1,op2 narrows a probe run to the named ops (new-op calibration
    # without re-timing the whole corpus); serving tiers run only when one
    # of them is named (or no filter is set).
    only = [s for s in os.environ.get("ONLY", "").split(",") if s]
    ops = [op for op in OPS if not only or op in only]
    serving_ops = [op for op in SERVING_OPS if not only or op in only]

    results: dict[str, dict[int, float]] = {op: {} for op in ops}
    serving: dict[str, dict[int, float]] = {op: {} for op in serving_ops}
    store_build: dict[int, float] = {}
    for factor in FACTORS:
        sf_dir = build_tile(spark, factor)
        for op in ops:
            best = None
            for _ in range(2):
                # every pass starts cold: pass 2 of an operator whose
                # persists are plan-identical across calls would otherwise
                # read pass 1's cached blocks (bench.py does the same)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                QUERIES[op](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            results[op][factor] = round(best, 2)
            spark.catalog.clearCache()
        if serving_ops:
            t0 = time.perf_counter()
            ensure_clustered_store(spark, sf_dir)
            ensure_cell_radii(spark, sf_dir)
            store_build[factor] = round(time.perf_counter() - t0, 2)
        for op in serving_ops:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[op](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            serving[op][factor] = round(best, 2)
            spark.catalog.clearCache()
        print(f"x{factor} done", flush=True)
    print(json.dumps(
        {"ops": results, "serving": serving, "store_build_sec": store_build}
    ))
    if not only:  # a targeted ONLY run keeps the tiles for follow-up probes
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
