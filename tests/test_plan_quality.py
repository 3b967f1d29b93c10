"""Plan-shape regression tests: the physical properties the engine's scale
claims rest on — broadcasts, pushdown, sort+limit fusion, shuffle-free
narrow maps — asserted against the optimized plans so perf regressions
fail CI, not the benchmark."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from ai_optimizer_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    # Assert the COLD plan: an earlier test's operator-internal persist
    # (shared_persist registers with the CacheManager at plan-build time)
    # would otherwise substitute an InMemoryRelation into this query's
    # identical subtrees and change exchange/scan counts — exactly the
    # sharing the persists exist for, but not what these guards pin.
    # bench.py isolates queries the same way (clearCache before every pass).
    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


def test_standings_broadcasts_dimensions(spark):
    plan = plan_of(spark, "a6_customer_standings")
    assert "BroadcastHashJoin" in plan  # customer side broadcasts
    assert "PushedFilters: [IsNotNull" in plan  # join keys push to scan


def test_topk_fuses_sort_and_limit(spark):
    plan = plan_of(spark, "v1_cosine_topk")
    assert "TakeOrderedAndProject" in plan  # no global sort materialized
    assert "EqualTo(vec_id,0)" in plan  # query-vector filter reaches scan


def test_chunker_is_shuffle_free(spark):
    plan = plan_of(spark, "tx5_chunk_documents")
    assert "Exchange" not in plan  # pure narrow map: scan → generate → project


def test_similarity_conversions_shuffle_free(spark):
    plan = plan_of(spark, "v2_similarity_conversions")
    # crossJoin(broadcast(1-row query)) + exprs: only a broadcast exchange
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= plan.count("ReusedExchange")


def test_anti_join_builds_broadcast(spark):
    plan = plan_of(spark, "j2_anti_join_new_rows")
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_asof_join_is_single_shuffle_window(spark):
    plan = plan_of(spark, "j11_asof_join")
    # union + window carry: no join operator at all, and the only wide ops
    # are the hashpartitionings on user_id for the two window passes
    assert "Join" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("Window") >= 1


def test_banded_range_join_avoids_nested_loop(spark):
    plan = plan_of(spark, "j12_banded_range_join")
    # the band turns the interval predicate into an equi-join
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_sliding_window_is_partial_final_agg(spark):
    plan = plan_of(spark, "st4_sliding_window_counts")
    assert "Expand" in plan or "Generate" in plan  # built-in window explode
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_hash_split_is_shuffle_free(spark):
    plan = plan_of(spark, "smp1_hash_split")
    assert "Exchange" not in plan  # pure projection: computable at scan time


def test_weighted_mix_is_shuffle_free(spark):
    plan = plan_of(spark, "smp3_weighted_mix")
    assert "Exchange" not in plan  # narrow filter over one scan


def test_bucketed_join_and_agg_have_no_shuffle(spark):
    plan = plan_of(spark, "j14_bucketed_order_revenue")
    # layout replaces the shuffle: the bucketed scan's hash clustering feeds
    # both the join and the groupBy, so the ONLY exchange is the broadcast
    # Catalyst rightly picks for the tiny dim at this SF (at scale it plans
    # a co-located SortMergeJoin over the same layout — still no shuffle)
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning" not in plan


def test_tfidf_broadcasts_vocab_and_scalar(spark):
    plan = plan_of(spark, "tx9_tfidf_terms")
    # the df-count (vocabulary) join and the scalar N both broadcast —
    # the tf side never shuffles for the scoring join
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar N crossJoin


@pytest.mark.parametrize("name", ["v5_knn_self_join", "v10_matmul_knn"])
def test_matmul_knn_shuffles_only_pruned_candidates(spark, name):
    plan = plan_of(spark, name)
    # one Python stage (the matmul scorer), one exchange into the final
    # per-query window — the full N x Q score matrix never shuffles
    assert "MapInPandas" in plan
    assert plan.count("Exchange (") <= 1
    # Spark additionally prunes to a per-partition partial top-k before the
    # exchange (WindowGroupLimit Partial) — keep that guaranteed
    assert "Partial" in plan and "WindowGroupLimit" in plan


def test_market_share_broadcasts_all_dims(spark):
    plan = plan_of(spark, "j15_market_share")
    # part, customer-side, supplier-side all broadcast; the only potential
    # non-broadcast exchange feeds the lineitem ⋈ orders fact join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "PushedFilters" in plan


def test_small_qty_revenue_decorrelates_without_shuffle_join(spark):
    plan = plan_of(spark, "j16_small_qty_revenue")
    # brand filter reaches the part scan; both the pruned part dim and the
    # per-part qty-cap table broadcast — the Q17 subquery never SMJs
    assert "EqualTo(p_brand,Brand#5)" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_large_volume_orders_takeordered(spark):
    plan = plan_of(spark, "j17_large_volume_orders")
    # HAVING tail broadcasts into orders; final sort+limit fuses
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_idle_rich_customers_antijoin_pruned(spark):
    plan = plan_of(spark, "a18_idle_rich_customers")
    # NOT EXISTS is a left-anti join; the date bound reaches the orders scan
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_ivf_assignment_is_map_only(spark):
    plan = plan_of(spark, "v7_ivf_topk")
    # the centroid model ships in the numpy kernel's closure: assignment
    # must not shuffle the corpus on vec_id (the old crossJoin+groupBy form
    # exchanged every embedding), and its input is not widened by a
    # round-robin exchange (a per-batch Python kernel gains nothing from it)
    assert "hashpartitioning(vec_id" not in plan
    assert "MapInPandas" in plan
    assert "RoundRobinPartitioning" not in plan


def test_ann_recall_joins_tiny_sides(spark):
    plan = plan_of(spark, "v12_ann_recall")
    # both kNN sides reduce to k rows per query before the recall join
    assert "TakeOrderedAndProject" in plan or "Window" in plan


def test_clustered_ivf_probe_is_pruned_scan(spark):
    """The cid-partitioned store turns the IVF probe into partition pruning:
    the big-side scan carries a PartitionFilters entry on cid and the plan
    has no shuffle exchange — layout replaced the semi-join."""
    plan = plan_of(spark, "v13_clustered_ivf_topk")
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= plan.count(
        "ReusedExchange"
    )
    assert "TakeOrderedAndProject" in plan


def test_pii_redaction_is_shuffle_free(spark):
    plan = plan_of(spark, "tx12_pii_redaction")
    assert "Exchange" not in plan  # regex find+redact fuses into the scan


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set broadcasts; the corpus-side inverted index
    never shuffles for the join (only the overlap aggregation shuffles)."""
    plan = plan_of(spark, "d12_decontamination")
    assert "BroadcastHashJoin" in plan


def test_grouping_sets_single_scan(spark):
    plan = plan_of(spark, "a19_grouping_sets")
    # one scan feeding an Expand: three grouping sets, one pass
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan


def test_repetition_stats_has_no_key_shuffle(spark):
    """tx11 is pure array math: no hashpartitioning exchange anywhere."""
    plan = plan_of(spark, "tx11_repetition_stats")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_forecast_revenue_pushes_every_predicate(spark):
    """Q6 shape: the entire WHERE reaches the parquet scan; only the 2-col
    projection is read."""
    plan = plan_of(spark, "a20_forecast_revenue")
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "partial" in plan.lower()  # map-side combine


def test_late_order_semi_join_no_nested_loop(spark):
    """Q4 shape: EXISTS with equi+range condition hash-joins on the equi
    part; the range predicate is residual, never a nested loop."""
    plan = plan_of(spark, "j18_late_order_priority")
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_returned_item_revenue_broadcasts_dims(spark):
    plan = plan_of(spark, "j19_returned_item_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # flag filter reaches the scan


def test_sequence_packing_avoids_global_sort(spark):
    plan = plan_of(spark, "smp6_sequence_packing")
    # the corpus-sized window must partition on bucket (two-pass prefix sum);
    # the only SinglePartition exchange feeds the 32-row bucket-offset window
    assert "hashpartitioning(bucket" in plan
    assert "BroadcastHashJoin" in plan  # offsets broadcast back, no big shuffle
    # a global rangepartitioning sort of the full docs table would betray a
    # one-task window
    assert "rangepartitioning" not in plan


def test_simhash_signatures_fuse_into_scan(spark):
    plan = plan_of(spark, "d4_simhash_pairs")
    # signatures come from the map-only signature kernel: the old
    # explode+groupBy form showed 32 sum(shiftright(h, i)) aggregates and
    # a doc_id exchange before the block join — both must stay gone.
    # Remaining Generate nodes are the 1->7 block explode (narrow map) and
    # remaining HashAggregates belong to the output distinct only.
    assert "sum(shiftright" not in plan
    assert plan.count("HashAggregate") <= 4  # 2 nodes (distinct partial+final), each printed twice in formatted output


def test_simhash_pairs_join_reads_materialized_signatures(spark):
    """Both sides of the simhash self-join must read the checkpointed
    signature rows (ExistingRDD scans), not re-derive them from documents:
    without the barrier the signature fold re-evaluates per candidate pair
    (measured 93 s vs 1.4 s at sf0.1). A plan that scans the documents
    parquet inside the join subtree is the regression."""
    p = plan_of(spark, "d4_simhash_pairs")
    assert p.count("Scan ExistingRDD") >= 2
    assert "documents.parquet" not in p


def test_volume_shipping_single_fact_shuffle(spark):
    """Q7 shape: supplier/customer nation maps broadcast; no nested loop."""
    p = plan_of(spark, "j20_volume_shipping")
    assert "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p


def test_topic_clusters_assignment_map_only(spark):
    """d13: centroid assignment is inlined (no join/exchange below the
    first aggregate over (cid,label))."""
    p = plan_of(spark, "d13_topic_clusters")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p


def test_filtered_topk_pushes_label_predicate(spark):
    """v18 PRE-filter strategy: the metadata predicate must reach the
    parquet scan, not sit above a full-scan score."""
    p = plan_of(spark, "v18_filtered_topk")
    assert "EqualTo(label,1)" in p
    assert "TakeOrderedAndProject" in p


def test_crossencoder_rerank_scores_only_fetch_k(spark):
    """d14 stage 2 (the Python pair scorer) must consume the CHECKPOINTED
    stage-1 cut (fetch_k rows), not the corpus scan: without the barrier
    Catalyst plans stage 1 as a global range-sort and the UDF scores up to
    fetch_k rows PER PARTITION."""
    p = plan_of(spark, "d14_crossencoder_rerank")
    assert "ArrowEvalPython" in p
    assert "Scan ExistingRDD" in p
    assert "embeddings.parquet" not in p


def test_funnel_reuses_user_partitioning(spark):
    """st11: the chained per-user aggregates must not introduce nested
    loops; every join is keyed on user_id."""
    p = plan_of(spark, "st11_funnel_steps")
    assert "BroadcastNestedLoop" not in p
    assert "CartesianProduct" not in p


def test_training_export_has_no_global_sort(spark):
    """e2e_training_export: the packing prefix-sum must be the two-pass
    bucket form — per-bucket hash-partitioned windows plus ONE
    single-partition pass over the 32 bucket totals; a rangepartitioning
    exchange would mean a corpus-wide global sort snuck back in."""
    p = plan_of(spark, "e2e_training_export")
    assert "rangepartitioning" not in p
    assert p.count("SinglePartition") == 1
    assert "hashpartitioning(bucket" in p


@pytest.mark.parametrize("name", ["v17_ivfpq_topk", "v20_ivfpq_topk_np"])
def test_ivfpq_np_tier_is_arrow_batched_map(spark, name):
    """IVFPQ: candidate scoring must be one ArrowEvalPython-free mapInPandas
    pass (MapInPandas node) feeding TakeOrderedAndProject — no shuffle
    between the scan and the refine cut."""
    p = plan_of(spark, name)
    assert "MapInPandas" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_refresh_diff_is_distributed_join(spark):
    """VERDICT r3 #2: the refresh diff must be a join between two
    DataFrames, not a driver-collected IN-list of filenames."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import refresh_diff
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, SF)["documents"]
    current = docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("filename"),
        F.md5("text").alias("fp"),
    )
    held = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("filename"),
        F.md5("text").alias("old_fp"),
    )
    diff = refresh_diff(current, held)
    buf = io.StringIO()
    with redirect_stdout(buf):
        diff.explain("formatted")
    plan = buf.getvalue()
    assert "Join" in plan and "LeftOuter" in plan
    assert "In(filename" not in plan  # no literal filename IN-list anywhere


def test_refresh_path_has_no_unbounded_collect():
    """Source-level guard for VERDICT r3 #2: the only driver-side
    materialization left in the store-maintenance path is the DISTINCT
    affected-partition-id set (bounded by the file_buckets layout
    constant); the changed/missing/stale filename sets stay DataFrames
    (left_anti delete, left_semi re-embed)."""
    import ai_optimizer_spark.plans.vector_store as vs

    src = open(vs.__file__, encoding="utf-8").read()
    assert src.count(".collect()") == 1  # the bounded fbucket-id collect
    assert '"left_anti"' in src and '"left_semi"' in src


def test_incremental_rollup_merge_adds_no_exchange(spark):
    """t9: merging the stored-rollup and delta partials must reuse the
    branches' hash partitioning — exactly 2 Exchanges (one per branch),
    none above the Union."""
    plan = plan_of(spark, "t9_incremental_rollup")
    assert plan.count("Exchange (") == 2  # tree labels; formatted mode repeats each in the detail section
    assert "Union" in plan
    assert "LessThan(event_id,50000)" in plan  # branch filters reach the scans


def test_dpp_cell_stats_uses_dynamic_pruning(spark):
    """v21: the runtime-computed probe cell set must reach the partitioned
    store scan as a dynamicpruningexpression PartitionFilter — Catalyst's
    DPP, not a literal filter and not a full scan."""
    plan = plan_of(spark, "v21_dpp_cell_stats")
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_clustered_range_search_prunes_partitions(spark):
    """v16b: the stored-radii serving tier — the pruning bound resolves to
    a LITERAL partition filter on the cid-partitioned store (no per-query
    corpus aggregation — the `max(dc` radii aggregate v16 recomputes must
    NOT appear), and the only exchanges are the broadcasts of the tiny
    radii/query sides. The partition filter is the whole point: at 100 TB
    the scan reads only surviving cells' files. (r6: merged from two
    same-named definitions — Python kept only the second, silently
    dropping the first's no-recompute guard.)"""
    plan = plan_of(spark, "v16b_clustered_range_search")
    assert "PartitionFilters: [cid" in plan
    assert "max(dc" not in plan  # radii come from the stored table, not an agg
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    assert "SortMergeJoin" not in plan


def test_shipping_priority_q3_shape(spark):
    """j26 (TPC-H Q3 shape): every date/segment predicate reaches its scan,
    the dim chain broadcasts (no shuffle join at fixture scale), and the
    top-k fuses into TakeOrderedAndProject instead of a global sort.
    (r6: collapsed with its near-duplicate twin; union of asserts.)"""
    plan = plan_of(spark, "j26_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_disjunctive_part_revenue_pushes_or_bundles(spark):
    """j27 (TPC-H Q19 shape): the OR-of-bundles' single-side conjuncts are
    pushed to BOTH scans (part's brand/size union AND lineitem's quantity
    union) — the disjunction does not defeat pushdown — and the pruned
    part dim broadcasts into a single join. (r6: collapsed with its
    near-duplicate twin; this one's asserts are strictly stronger.)"""
    plan = plan_of(spark, "j27_disjunctive_part_revenue")
    assert plan.count("Or(Or(And(") >= 2  # OR bundle pushed on both scans
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_resample_is_shuffle_free(spark):
    """smp8: quality scoring + the importance-keep filter fuse into one
    narrow map over the documents scan — no exchange, no state."""
    plan = plan_of(spark, "smp8_quality_resample")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_repeated_substrings_shuffles_digests_only(spark):
    """d15 (skew-safe form): partial aggregation before every exchange (hot
    fingerprints collapse map-side), NO window/single-task stage, the only
    per-key fan-in is an equi-join AQE skew-split can divide, and the span
    TEXT never reaches an exchange — only the hash60 digest shuffles."""
    plan = plan_of(spark, "d15_repeated_substrings")
    assert "Window" not in plan  # un-splittable per-key sort: the skew trap
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()
    # the shuffles carry (doc_id, wh); span strings are projected away
    # before the first exchange
    assert "hashpartitioning(wh" in plan


def test_min_cost_supplier_q2_decorrelated(spark):
    """j28 (TPC-H Q2 shape): the part-class predicate reaches the part
    scan, every dim/min table broadcasts (no shuffle join), and the
    correlated-min is a broadcast equality join, not a per-row subquery;
    top-k fuses into TakeOrderedAndProject."""
    plan = plan_of(spark, "j28_min_cost_supplier")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    # eligible is checkpointed before branching (review finding): the
    # class-pruned fact scan + offer aggregate run ONCE; both the min
    # branch and the probe read the pinned class-sized table
    assert tree.count("Scan parquet") <= 1  # only the part-name re-join side
    assert tree.count("Scan ExistingRDD") == 2


def test_important_part_values_q11_global_threshold(spark):
    """a24 (TPC-H Q11 shape): the global total is a 1-row broadcast folded
    over the CHECKPOINTED per-part sums — without the barrier Catalyst
    plans the total branch as a full second fact scan (measured: 6 scans
    in the tree, lineitem twice); with it, both branches read the pinned
    part-dimension-sized table and NO parquet scan appears downstream."""
    plan = plan_of(spark, "a24_important_part_values")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0  # fact read once, at the barrier
    assert tree.count("Scan ExistingRDD") == 2  # both branches share it
    assert "BroadcastNestedLoopJoin" in tree  # the 1-row scalar broadcast
    assert "SortMergeJoin" not in plan


def test_corpus_dup_profile_digest_only_shuffles(spark):
    """d17 must never join or sort: scan → map-only signature kernel →
    band explode → two narrow digest shuffles ((band,key) then band), both
    with map-side combine. This op's whole value is being strictly cheaper
    than any dedup run."""
    plan = plan_of(spark, "d17_corpus_dup_profile")
    assert "Join" not in plan
    assert "Sort" not in plan
    assert "MapInPandas" in plan  # signatures: one map pass, no aggregate
    assert "partial_count" in plan  # map-side combine before each exchange
    # two narrow exchanges: (band,key) buckets, (band) — no (doc_id) one
    assert plan.count("hashpartitioning") == 2
    assert "SinglePartition" not in plan  # per-band folds, no driver funnel


def test_cluster_survivors_partial_aggregates(spark):
    """d16's winner must come from a partial+final MAX(struct) aggregate —
    duplicate-cluster rows collapse map-side before the (cluster_id)
    shuffle — not from a row_number window (full-width sort, no combine)."""
    plan = plan_of(spark, "d16_cluster_survivors")
    assert "partial_max(struct" in plan
    assert "Window" not in plan


def test_token_budget_select_avoids_global_sort(spark):
    """smp9's selection-order prefix sum must decompose into partitioned
    windows (quality/sub buckets) + broadcast offsets — never a corpus-wide
    rangepartitioning sort; only the ≤1001-row quality table may funnel."""
    plan = plan_of(spark, "smp9_token_budget_select")
    assert "rangepartitioning" not in plan
    assert "hashpartitioning(quality" in plan  # per-bucket windows
    assert "BroadcastHashJoin" in plan  # offsets and budget broadcast back


def test_cell_stats_refresh_map_only_assignment(spark):
    """t11: cell assignment must fuse into the scan (the centroid model
    broadcasts; no shuffle carries embeddings) — exactly one partial-agg
    Exchange per branch, and the full-outer merge reuses the branches'
    cid partitioning instead of adding a third."""
    plan = plan_of(spark, "t11_cell_stats_refresh")
    assert plan.count(" Exchange (") == 2  # shuffles: the two groupBy(cid)
    assert plan.count("BroadcastExchange (") == 2  # the 16-row centroid dim
    assert "SortMergeJoin FullOuter" in plan
    # the history/delta split reaches the parquet scans
    assert "LessThan(vec_id,400)" in plan
    assert "GreaterThanOrEqual(vec_id,400)" in plan


def test_ngram_perplexity_model_broadcasts(spark):
    """tx16: the bigram LM must be token-TYPE-sized and broadcast. The
    SERVED plan contains exactly ONE parquet scan — the scoring pass; the
    model pass runs once at checkpoint build time (c1/vocab derive from
    the checkpointed c2, never re-scanning). Count in the TREE section
    only: formatted explain prints every node a second time in the
    details section. No sort-merge join, no global sort; the tertile
    window partitions by language."""
    plan = plan_of(spark, "tx16_ngram_perplexity")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1  # scoring pass only
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # the LM joins broadcast
    assert "hashpartitioning(lang" in plan  # per-language tertile window


def test_dsir_importance_avoids_global_sort(spark):
    """smp10: selection must use the value-space-bounded weight-level
    cumsum + per-weight tie-break windows — never a corpus-wide
    rangepartitioning sort; the ratio table and offsets broadcast back."""
    plan = plan_of(spark, "smp10_dsir_importance")
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(weight" in plan  # per-weight tie-break window
    assert "BroadcastHashJoin" in plan


def test_corpus_assembly_id_level_gate(spark):
    """e2e_corpus_assembly: the perplexity-kept set must gate the corpus
    through an id-level LeftSemi join on doc_id (the stage boundary is
    ids, never text). The final registered plan starts at the DSIR
    checkpoint (the gate runs inside its eager materialization), so the
    gate's shape is asserted on the stage DataFrame itself; the composed
    plan must still be sort- and cartesian-free."""
    import io
    from contextlib import redirect_stdout

    from ai_optimizer_spark.operators.textops import ngram_perplexity
    from ai_optimizer_spark.tables import load_tables
    from pyspark.sql import functions as SF_

    t = load_tables(spark, SF)
    ppl = ngram_perplexity(t)
    kept = ppl.where(SF_.col("ppl_bucket") != "tail").select("doc_id")
    gated = t["documents"].join(kept, "doc_id", "left_semi")
    buf = io.StringIO()
    with redirect_stdout(buf):
        gated.explain("formatted")
    gate_plan = buf.getvalue()
    assert "LeftSemi" in gate_plan
    plan = plan_of(spark, "e2e_corpus_assembly")
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_checkpointed_base_and_bounded_pairs(spark):
    """d18: the scored base must be checkpointed before the self-join (no
    parquet re-scan, no per-pair centroid fold) and the pair join must be
    a cell-keyed equi-join, never a cartesian product."""
    plan = plan_of(spark, "d18_semdedup")
    assert "Scan parquet" not in plan  # everything reads the checkpoint
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_gopher_rules_scan_fused(spark):
    """tx17: the rules gate must be a single map-only projection — no
    exchange, no join, no window; the cheapest possible first pass."""
    plan = plan_of(spark, "tx17_gopher_rules")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_unimax_single_corpus_pass(spark):
    """smp11: the corpus must be token-counted ONCE — the budget scalar
    derives from the checkpointed |domains|-row table, never a second
    parquet scan (the a24 re-scan trap); windows then run on domain-sized
    data only."""
    plan = plan_of(spark, "smp11_unimax_budget")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0  # both branches read the barrier
    assert tree.count("Scan ExistingRDD") == 2  # dom + its budget fold
    assert "SortMergeJoin" not in plan


def test_zipf_fit_group_limit_and_single_scan(spark):
    """tx18: one corpus scan; the top-64 rank filter must push down as a
    WindowGroupLimit (partial per-map-side group limit — vocabulary never
    fully sorts per source); no join anywhere."""
    plan = plan_of(spark, "tx18_zipf_fit")
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_bloom_decontamination_broadcasts_bit_set(spark):
    """d19: the shingle index is computed once (cached relation reused by
    the bench-bits, corpus, and per-doc-size branches); the Bloom bit set
    — bounded by 2^20 regardless of eval-set size — joins as a broadcast;
    nothing sort-merge joins."""
    plan = plan_of(spark, "d19_bloom_decontamination")
    assert "InMemoryTableScan" in plan  # shingle index built once
    assert "BroadcastExchange" in plan  # the bit table broadcasts
    assert "SortMergeJoin" not in plan


def test_curriculum_order_avoids_global_ntile(spark):
    """smp12's stage must come from the length-distribution table, never a
    corpus-wide NTILE sort: no rangepartitioning anywhere, the staged dist
    broadcasts back onto the scan, and the only corpus-sized window is
    partitioned by (stage, shard)."""
    plan = plan_of(spark, "smp12_curriculum_order")
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # staged dist joins map-side
    assert "hashpartitioning(stage" in plan  # bounded per-(stage,shard) windows


def test_dedup_cascade_single_profile_aggregate(spark):
    """e2e_dedup_cascade's 4-row profile must come from ONE partial+final
    aggregate fanned out by inline — four SinglePartition exchanges (or a
    union of four aggregates) would mean four corpus passes."""
    plan = plan_of(spark, "e2e_dedup_cascade")
    assert plan.count("SinglePartition") == 1
    assert "inline" in plan  # struct fan-out via Generate, not a union
    assert "Union" not in plan


def test_bloom_refresh_delta_only_fingerprinting(spark):
    """t13's served plan must shingle ONLY the delta: the stored bit set is
    a checkpointed artifact (Scan ExistingRDD), the provenance probe is a
    broadcast anti-join of two <=2^20-row sides, and exactly one shingle
    Generate (the delta's) appears in the tree."""
    plan = plan_of(spark, "t13_bloom_index_refresh")
    assert "Scan ExistingRDD" in plan  # stored artifact, not re-derived
    assert "LeftAnti" in plan
    # one scan detail block == only the DELTA reads the corpus
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_mixture_epochs_broadcasts_domain_table(spark):
    """smp13 must attach the |domains|-row epochs table by broadcast —
    a corpus-side shuffle on (lang, source) would be the wrong plan at
    any scale."""
    plan = plan_of(spark, "smp13_mixture_epochs")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(lang" not in plan


def test_quality_classifier_cached_features_and_jvm_scoring(spark):
    """tx19's served plan must score off the PERSISTED feature table
    (InMemoryTableScan — never re-tokenizes the corpus), keep the weight
    lookup as a JVM map literal (no Python eval in the hot path), and
    avoid any global sort."""
    plan = plan_of(spark, "tx19_quality_classifier")
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "rangepartitioning" not in plan


def test_semantic_decontamination_broadcasts_bench_side(spark):
    """d20's served plan: the normalized base is a checkpointed artifact
    (one assignment pass, Scan ExistingRDD), the benchmark side broadcasts
    (fixed-size eval suite vs growing corpus), and the corpus never
    shuffles for the join."""
    plan = plan_of(spark, "d20_semantic_decontamination")
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hier_ivf_assignment_is_map_only(spark):
    """v22's two-level assignment must stay a single inlined projection —
    both quantizer levels are plan literals; no shuffle of the corpus on
    vec_id, no join for the model."""
    plan = plan_of(spark, "v22_hier_ivf_topk")
    assert "hashpartitioning(vec_id" not in plan
    assert "TakeOrderedAndProject" in plan


def test_hier_assignment_projection_shuffle_free_and_let_bound(spark):
    """v22's `_assign_cells_hier` in isolation (VERDICT r5 task 4): the
    corpus assignment is one narrow projection over the scan — ZERO
    exchanges of any kind — and the level-1 group ranking is evaluated
    ONCE per row. The let-binding's observable plan signature: exactly one
    `array_sort` in the optimized expression tree. Referencing the
    chosen-groups expression directly inside the member filter re-inlines
    the whole level-1 sort per candidate (the hof-projection
    re-evaluation trap, measured 15x slower; fixed in the r5 commit this
    test guards)."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import _assign_cells_hier

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assigned = _assign_cells_hier(emb, cents.collect())
    buf = _io.StringIO()
    with _rs(buf):
        assigned.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan  # map-only: both levels are plan literals
    assert plan.count("array_sort") == 1  # let-binding held; not re-inlined


def test_auto_curation_keeps_cascade_plan_shape(spark):
    """e2e_auto_curation = the cascade under data-derived knobs: the
    auto-tuning happens in two tiny pre-pass collects (n_bands profile
    rows + one count), so the SERVED plan must keep the cascade's shape —
    ONE partial+final profile aggregate fanned out by inline, knobs
    attached as plan literals (no extra join or exchange for them)."""
    plan = plan_of(spark, "e2e_auto_curation")
    assert plan.count("SinglePartition") == 1
    assert "inline" in plan
    assert "Union" not in plan
    # the chosen knobs ride as literals, not as a joined side
    assert "lsh_bucket_cap" in plan and "semdedup_k" in plan


def test_sq8_topk_is_one_scan_no_exchange(spark):
    """v23's read path must be cosine_topk's shape over the quantized
    layout: one corpus scan, the 1-row query broadcast, reconstruction
    scan-fused, TakeOrderedAndProject for the cut — no shuffle exchange
    anywhere."""
    plan = plan_of(spark, "v23_sq8_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan
    # two scans: the corpus + the pushed-down 1-row query side
    assert plan.count("Location: InMemoryFileIndex") == 2
    # the scale-invariance identity holds in the PLAN: scoring runs over
    # the stored codes directly — no (code * scale) reconstruction in the
    # read path, so the quantized fold is never re-expanded per occurrence
    # (this op's first plan audit caught exactly that HOF trap)
    assert "* scale#" not in plan


def test_decon_report_single_profile_aggregate(spark):
    """e2e_decon_report mirrors the cascade's profile shape: the 4-row
    report comes from ONE partial+final aggregate fanned out by inline
    (the tiers' own aggregates are per-doc hash aggregates, not extra
    SinglePartition corpus passes), with no union of per-stage queries."""
    plan = plan_of(spark, "e2e_decon_report")
    assert plan.count("SinglePartition") == 1
    assert "inline" in plan
    assert "Union" not in plan


def test_tokenizer_fertility_is_joinless_single_pass(spark):
    """tx20 must carry (lang, source) THROUGH the Arrow stage so the
    budgeting table needs NO join anywhere: one MapInPandas over one
    corpus scan, then only the |lang×source|-row aggregate's exchange
    (with map-side partial combine)."""
    plan = plan_of(spark, "tx20_tokenizer_fertility")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial" in plan.lower()


def test_quantized_clustered_topk_prunes_partitions_no_exchange(spark):
    """v24 = pruning + compression composed: the probe list must reach the
    quantized store's scan as a PartitionFilters entry on cid, the scan
    must read codes (never a raw embedding column), and the only exchange
    is the 1-row query broadcast."""
    plan = plan_of(spark, "v24_quantized_clustered_topk")
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan
    # the pruned store scan projects codes, not raw vectors
    assert "codes" in plan


def test_sq8_refresh_merges_after_one_assignment_per_side(spark):
    """t14: each side (stored, delta) runs the numpy assignment kernel
    once and no per-row Python UDF, then the full-outer
    n_centroids x n_centroids stats merge — no corpus-sized exchange
    after the two per-cell aggregates."""
    plan = plan_of(spark, "t14_sq8_store_refresh")
    assert plan.count("MapInPandas (") == 2
    assert "EvalPython" not in plan
    assert "FullOuter" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per side


def test_dedup_manifest_is_row_level_no_global_barrier(spark):
    """The manifest is the cascade WITHOUT the profile aggregate: no
    SinglePartition barrier may appear (output is removed-docs-sized,
    never collapsed to one partition), and the three flag attachments
    stay left joins."""
    plan = plan_of(spark, "e2e_dedup_manifest")
    assert "SinglePartition" not in plan
    assert plan.count("LeftOuter") >= 3
    assert "CartesianProduct" not in plan


def test_sq8_write_path_materializes_scale_once(spark):
    """ADVICE r6 (medium): the SQ8 write path must evaluate the max-abs
    fold ONCE per row — `codes` references a materialized `scale` column
    in a SEPARATE projection (sq8_project), never the fold expression
    inlined inside the transform lambda (interpreted HOF evaluation would
    recompute the fold per element: O(d^2) per vector on every write).
    CollapseProject must keep the two projections apart because the fold
    is non-cheap and multiply referenced — this guard pins that."""
    from ai_optimizer_spark.operators.similarity import sq8_store
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, SF)
    plan = sq8_store(t["embeddings"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_max") == 1, plan
    # codes' division references the scale ATTRIBUTE (scale#N), produced
    # by a projection underneath — two Project nodes, fold in the lower one
    assert plan.count("Project") == 2, plan
    upper, lower = plan.split("Project", 2)[1:]
    assert "array_max" not in upper and "array_max" in lower


def test_cap_sweep_broadcasts_ladder_no_cartesian(spark):
    """d22: the cap ladder (<=5 rows) must broadcast into the pair table
    (BroadcastNestedLoopJoin, never CartesianProduct), and the only
    SinglePartition stage is the window over the <=5-row curve — the
    corpus-sized work (bucket join, jaccard truth) stays hash-partitioned."""
    plan = plan_of(spark, "d22_lsh_cap_recall_sweep")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") == 1
    assert "FullOuter" in plan  # truth x candidates pair alignment


def test_quantized_range_search_prunes_partitions_no_exchange(spark):
    """v25 = v16b x v24: the live-cell list (triangle bound off the STORED
    radii) must reach the quantized store as a PartitionFilters entry, the
    scan reads codes (no raw embedding column on the data side), the
    reconstruction fold is a single zip_with (scale is a column reference
    — nothing re-expands), and there is no shuffle exchange anywhere."""
    plan = plan_of(spark, "v25_quantized_range_search")
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert "Exchange hashpartitioning" not in plan
    assert "codes" in plan


def test_quantized_knn_join_dpp_single_store_scan(spark):
    """v26 = the batch read shape over the compressed layout: the
    per-query probe set (a computed DataFrame, never a driver literal)
    must reach the partitioned store scan as a dynamicpruningexpression
    (the v21 mechanism) through a broadcast join, the store is scanned
    ONCE for the whole batch, and the scan reads codes — no raw embedding
    column on the data side."""
    plan = plan_of(spark, "v26_quantized_ivf_knn_join")
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one scan NODE (formatted plans print tree line + detail header)
    assert plan.count(") Scan parquet spark_catalog.default.embeddings_sq8") == 1
    store_scan = plan.split(") Scan parquet spark_catalog.default.embeddings_sq8", 1)[1]
    assert "codes" in store_scan[:400]
    assert "embedding:array<float>" not in store_scan[:400]


def test_cell_split_repair_broadcast_models_no_python(spark):
    """t15: the repair reads its assignment from a checkpoint (no Python
    stage in the plan), joins ONLY against broadcast model tables
    (hot set <= k rows, seeds <= 2k rows — never a shuffle join), and
    derive everything from ONE checkpointed assignment pass."""
    plan = plan_of(spark, "t15_cell_split_repair")
    assert "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed assignment
    assert "BroadcastHashJoin" in plan


def test_residual_sq8_topk_all_broadcast_single_fold(spark):
    """v27's read plan: broadcast-only joins (centroid model + probe list
    + 1-row query), TakeOrderedAndProject for the cut, and the rscale
    fold evaluated ONCE (a re-expanded fold inside the rcodes/recon
    lambdas would show as repeated array_max occurrences — the HOF trap
    every SQ8 path is audited against)."""
    plan = plan_of(spark, "v27_residual_sq8_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("array_max") == 1


def test_store_delete_repair_broadcast_affected_only(spark):
    """t16: the delete list and both model tables must BROADCAST (erasure
    batches are tiny — a sort-merge join would reshuffle the corpus), no
    Python stage appears, and
    the only keyed exchanges are cell-bounded aggregates (the affected-set
    distinct + the per-cell stats), never a corpus-keyed repartition."""
    plan = plan_of(spark, "t16_store_delete_repair")
    assert "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # every hashpartitioning exchange keys on a cell id, never on vec_id
    for seg in plan.split("hashpartitioning(")[1:]:
        assert seg.split(",", 1)[0].strip().split("#")[0] in ("cid", "a_cid")


def test_incremental_lsh_is_delta_bounded(spark):
    """d24: the per-batch gate must stay delta-bounded — candidates and
    the kept-doc probe BROADCAST into the shingle joins (the corpus
    shingle index is filtered by a broadcast before any wide join), the
    verdict is a left join (every incoming doc answered), and nothing
    degenerates to a cartesian pairing."""
    plan = plan_of(spark, "d24_incremental_lsh_dedup")
    assert "CartesianProduct" not in plan
    assert "LeftOuter" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_winnow_pairs_doc_bounded_window_broadcast_cap(spark):
    """d25: the only window function partitions by doc_id (bounded by
    document length, never corpus-shaped), the stop-fingerprint keep-list
    broadcasts into the postings, and pairing never degenerates to a
    cartesian product."""
    plan = plan_of(spark, "d25_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every window/exchange partition key is doc_id or fp — never a
    # corpus-wide single partition
    assert "SinglePartition" not in plan


def test_cell_merge_repair_model_bounded_joins(spark):
    """t17: like t15 — one checkpointed assignment pass, occupancy is a
    k-row aggregate, target selection is k×k over broadcast model rows,
    member reads join a broadcast chosen-set; no sort-merge join, no
    Python stage at fixture k, no cartesian."""
    plan = plan_of(spark, "t17_cell_merge_repair")
    assert "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_kmv_sketch_is_takeordered_partial(spark):
    """a26: the k-smallest selection must be a TakeOrderedAndProject
    (partial per-partition top-k, merge on the driver side of the
    exchange) — never a global Sort; the only wide exchanges are the
    distinct aggregate's."""
    plan = plan_of(spark, "a26_kmv_distinct_shingles")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_residual_clustered_topk_prunes_partitions(spark):
    """v27b: the probe must reach the residual store's scan as a
    PartitionFilters entry on cid, the scan reads rcodes/rscale (never a
    raw embedding column), the centroid model joins as a broadcast, and
    no hash-partition exchange appears anywhere."""
    plan = plan_of(spark, "v27b_residual_clustered_topk")
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "rcodes" in plan
    # the store scan's schema carries codes, never a raw vector column
    seg = plan.split("Scan parquet spark_catalog.default.embeddings_rsq8", 1)
    assert len(seg) == 2
    schema = seg[1][seg[1].find("ReadSchema:"):].split("\n", 1)[0]
    assert "rscale" in schema and "rcodes" in schema
    assert "embedding:array" not in schema


def test_store_delete_repair_stored_reads_map_not_vectors(spark):
    """t16b: the store scan feeds the vec_id→cid map only (no codes, no
    embeddings read from the store); member vectors come from ONE
    broadcast-joined source pass; no sort-merge join."""
    plan = plan_of(spark, "t16b_store_delete_repair_stored")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    seg = plan.split(") Scan parquet spark_catalog.default.embeddings_sq8", 1)
    assert len(seg) == 2
    head = seg[1][:400]
    assert "codes" not in head  # map columns only


def test_cms_sketch_partial_agg_broadcast_probes(spark):
    """a27: the sketch is an algebraic count — partial (map-side)
    HashAggregate before one 2048-cell exchange; the top-N probe side
    joins as a BROADCAST (12*R rows), never a shuffle join, and nothing
    degenerates to a cartesian."""
    plan = plan_of(spark, "a27_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # partial_count before the exchange: at least one partial HashAggregate
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "Partial" in plan


def test_kmv_overlap_broadcast_pairs_no_cartesian(spark):
    """a28: the 6-row pair table joins by broadcast on the equi source
    key; the sketch path's windows are per-source/per-pair partial sorts,
    never a global Sort-into-single-partition; no cartesian product."""
    plan = plan_of(spark, "a28_kmv_source_overlap")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange SinglePartition" not in plan


def test_random_projection_coarse_is_takeordered_broadcast(spark):
    """v29: the 1-row query side joins as a broadcast (never a shuffled
    cartesian), both phase cuts are TakeOrderedAndProject partial top-k
    (no global Sort into a single partition), and the store scan stays
    a single pass."""
    plan = plan_of(spark, "v29_random_projection_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_weighted_sample_partial_topn_no_global_sort(spark):
    """smp14: the n-largest-keys cut must be a TakeOrderedAndProject
    (per-partition top-n, merge at the exchange — the A-ES one-pass
    claim), never a global Sort, and the scan feeds it directly with no
    hash-partition exchange."""
    plan = plan_of(spark, "smp14_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_repair_plan_is_model_sized(spark):
    """t19: the maintenance decision table must be decidable from k-row
    aggregates — occupancy partial-combines map-side (the only
    corpus-sized shuffle carries (cid) keys), every join broadcasts (no
    SortMergeJoin), and no member payload (embedding column) flows past
    the assignment into the decision logic."""
    plan = plan_of(spark, "t19_repair_plan")
    # every join broadcasts: no shuffle-requiring join strategy anywhere
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "partial_count" in plan  # occupancy combines before the exchange
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_kmv_sketch_refresh_is_topk_merge(spark):
    """t20: both the stored and delta sketches reduce to per-partition
    top-k (TakeOrderedAndProject — the KMV merge shape), so the shingle
    universe never exchanges; the merge operates on <=2k rows."""
    plan = plan_of(spark, "t20_kmv_sketch_refresh")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_refresh_partial_aggregates(spark):
    """t21: both half-sketches partial-combine map-side into R*W-row
    synopses; the merge is a 2048-row integer sum, never a token rescan
    of the other half."""
    plan = plan_of(spark, "t21_cms_sketch_refresh")
    assert "partial_count" in plan  # per-half map-side combine
    assert "partial_sum" in plan  # the algebraic cell merge
    assert "SortMergeJoin" not in plan


def test_mwu_weights_partial_aggregate_and_broadcasts(spark):
    """smp15: one corpus scan partial-aggregates to |domains| rows
    (integer permille sums); everything downstream (baseline, factor
    chain, DECIMAL normalizer) is broadcast k-row arithmetic — no
    shuffle-requiring join, no second corpus pass."""
    plan = plan_of(spark, "smp15_mwu_domain_weights")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row base/norm crossJoins
    # the eager domain-table barrier means the served plan reads ZERO
    # parquet: every consumer derives from the checkpointed k-row table
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "Scan ExistingRDD" in plan  # the checkpointed |domains| rows


@pytest.mark.parametrize(
    "name",
    [
        "d2_ngram_jaccard_pairs",
        "d3_minhash_lsh_pairs",
        "d18_semdedup",
        "d20_semantic_decontamination",
        "d25_winnow_pairs",
        "a26_kmv_distinct_shingles",
        "a27_cms_heavy_hitters",
        "t21_cms_sketch_refresh",
        "tx8_top_terms",
        "tx11_repetition_stats",
        "tx16_ngram_perplexity",
        "v29_random_projection_topk",
        "e2e_dedup_manifest",
    ],
)
def test_text_and_vector_ops_read_input_as_partitioned(spark, name):
    """Scan parallelism comes from the input's layout: no operator adds a
    round-robin repartition in front of its map work, whatever the
    partition count of the scan or checkpoint it reads."""
    plan = plan_of(spark, name)
    assert "RoundRobinPartitioning" not in plan


def test_range_search_assigns_cells_once(spark):
    """v16: the per-cell radii aggregate and the pruned scan both read ONE
    checkpointed assignment, so the numpy kernel runs once per query
    instead of once per consumer."""
    plan = plan_of(spark, "v16_range_search_pruned")
    assert "MapInPandas" not in plan
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Scan ExistingRDD") == 2  # radii aggregate + pruned scan
    # both scans read the same checkpoint RDD
    assert len(set(re.findall(r"(\w+RDD\[\d+\]) at localCheckpoint", plan))) == 1


def _band_keyed_joins(plan: str) -> int:
    """Joins of a formatted plan whose equi-join keys include a `band`
    column: the band self-join and the bucket-count join-back both key on
    it."""
    return len(re.findall(r"\nLeft keys \[\d+\]: \[[^\]]*\bband#", plan))


@pytest.mark.parametrize(
    "name",
    [
        "d3_minhash_lsh_pairs",
        "d3c_minhash_lsh_capped",
        "d21_lsh_recall",
        "d22_lsh_cap_recall_sweep",
        "st12b_neardup_candidates_batch",
        "e2e_dedup_manifest",
    ],
)
def test_lsh_candidates_have_no_band_join(spark, name):
    """LSH candidates come from one (band, key) aggregate whose id lists
    enumerate the pairs: no band row is joined back to its bucket size
    or to another band row."""
    assert _band_keyed_joins(plan_of(spark, name)) == 0


def test_incremental_lsh_probes_band_index_once(spark):
    """d24's one band-keyed join is the delta's band rows probing the
    corpus-side bucket aggregate (the stored band index)."""
    assert _band_keyed_joins(plan_of(spark, "d24_incremental_lsh_dedup")) == 1


def test_dedup_losers_job_budget(spark):
    """The capped LSH pair plan that curation runs eagerly (the bounded
    collect in `_propagate_labels`) starts at most 8 jobs at sf0.01; the
    band self-join form with its join-back and shingle probes started 21."""
    from ai_optimizer_spark.operators.dedup import (
        LSH_MAX_BUCKET_DEFAULT,
        dedup_losers,
    )
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "dedup-losers-budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        dedup_losers(t, max_bucket_size=LSH_MAX_BUCKET_DEFAULT)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
