"""Bucketed co-located fact-fact joins — the storage-level shuffle
eliminator for the engine's biggest repeated cost.

orders⋈lineitem on orderkey is the one unavoidable fact-fact shuffle in
every standings/revenue plan (see operators/relational.py). At 100 TB that
exchange moves the whole fact table across the network *every query*. The
fix is layout, not plan: write both facts bucketed (hash-clustered and
sorted) on the join key with the same bucket count. Catalyst then plans
the join as a co-located SortMergeJoin — each task reads bucket i of
both sides locally — and any aggregation keyed on the same column reuses
the clustering, so join+groupBy runs with NO shuffle exchange at all
(`tests/test_plan_quality.py` asserts exactly that plan shape; at test SF
Catalyst rightly broadcasts the tiny orders side instead, and the agg
still rides the bucketed scan's clustering shuffle-free).

This is the Spark analog of the reference pushing per-file rollups into
Oracle so "the API process never materializes per-chunk metadata"
(embed/vector_store.py:375-383): put the expensive clustering where the
data lives, pay it once at write time, reuse it every read.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.relational import revenue_expr
from ..tables import load_tables

N_BUCKETS = 8

_BUCKET_SPECS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}


def ensure_bucketed_facts(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> dict[str, str]:
    """Create (once per session/warehouse) bucketed copies of the fact
    tables, clustered+sorted on the join key. Returns table names keyed by
    logical name. Idempotent: skips tables already in the catalog."""
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    names = {tbl: f"{tbl}_bkt_{tag}" for tbl in _BUCKET_SPECS}
    tables = load_tables(spark, sf_dir)
    for tbl, key in _BUCKET_SPECS.items():
        if not spark.catalog.tableExists(names[tbl]):
            _clear_stale_location(spark, names[tbl])
            (
                tables[tbl]
                .write.format("parquet")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(names[tbl])
            )
    return names


def bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order revenue over the bucketed layout: scan → co-located
    SortMergeJoin (broadcast at tiny SF) → clustering-reusing aggregate —
    no shuffle exchange anywhere."""
    names = ensure_bucketed_facts(spark, sf_dir)
    orders = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"), "o_orderstatus")
        .agg(
            F.round(F.sum(revenue_expr()), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# IVF write path: the embeddings store clustered by cell id
# ---------------------------------------------------------------------------

IVF_N_CENTROIDS = 16


def ensure_clustered_store(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> str:
    """Write the embeddings store PARTITIONED BY its IVF cell id — the
    write-path half of the ANN scale story that ivf_topk's docstring
    promises ("at 100 TB the store is written clustered by cid"). Cell
    assignment runs once, at write time (map-only, operators/similarity.
    _assign_cells); every subsequent probe prunes partitions instead of
    scanning and filtering. Idempotent per (warehouse, sf_dir)."""
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    name = f"embeddings_ivf_{tag}"
    if not spark.catalog.tableExists(name):
        from ..operators.similarity import _ivf_assign

        _clear_stale_location(spark, name)
        emb = load_tables(spark, sf_dir)["embeddings"]
        _, assigned = _ivf_assign(emb, n_centroids)
        (
            # co-locate each cell in one shuffle partition before the
            # partitioned write: without it every input task opens a
            # writer per cell it touches (tasks × cells files — 65k tiny
            # files at k=2048 on the million-vector tile); with it the
            # store is one file per cell, the layout a probe wants
            assigned.repartition("cid")
            .write.format("parquet")
            .partitionBy("cid")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def clustered_ivf_knn_join(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 20,
    k: int = 3,
    n_probe: int = 4,
) -> DataFrame:
    """Batch ANN kNN join over the cid-partitioned store — v8's plan with
    the write-path assignment already materialized: the scan reads
    (vec_id, label, embedding, cid) straight off the layout instead of
    recomputing cell assignment per run. Same result and oracle as
    v8_ivf_knn_join; at 100 TB the difference is scanning n_probe cells per
    query versus touching every vector to rebuild the quantizer output."""
    from pyspark.sql import Window

    from ..functions import vector as V

    name = ensure_clustered_store(spark, sf_dir)
    store = spark.table(name).withColumn("cid", F.col("cid").cast("long"))
    cents = store.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("ce")
    )
    q = store.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("qdist"), F.asc("ccid"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "ccid",
            "query_id",
            "query_vec",
            V.euclidean_distance("ce", "query_vec").alias("qdist"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("ccid").alias("cid"), "query_id", "query_vec")
    )
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        store.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cid", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
    )


def clustered_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k over the cid-partitioned store: the probe list (n_probe
    cell ids, a handful of longs) is resolved driver-side and pushed as a
    literal partition filter, so the big-side scan reads only
    n_probe/n_centroids of the data — PartitionFilters in the plan, no
    shuffle Exchange anywhere (asserted in test_plan_quality.py). Result is
    bit-identical to v7_ivf_topk (same oracle): layout changed, semantics
    didn't. The probe ranks the held cell model of the build seeds
    (similarity.cell_model), so a request reads the query vector and the
    probed cells, nothing else."""
    from ..operators.similarity import _topk_cells, build_seeds, probe_query

    store = spark.table(ensure_clustered_store(spark, sf_dir))
    qvec, probe = probe_query(
        load_tables(spark, sf_dir)["embeddings"],
        build_seeds(IVF_N_CENTROIDS), query_id, n_probe,
    )
    return _topk_cells(
        store.filter(F.col("cid").isin(probe)),  # partition pruning
        "embedding", qvec, query_id, k,
    )


def ensure_cell_radii(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> str:
    """Write the per-cell max-distance statistic (r_cell) alongside the
    clustered store — the write-path half of exact range search's pruning
    bound (operators/similarity.range_search computes it per query; here it
    is computed ONCE, with the layout, like any other table statistic).
    n_centroids rows total. Idempotent per (warehouse, sf_dir)."""
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    name = f"cell_radii_{tag}"
    if not spark.catalog.tableExists(name):
        from ..functions import vector as V

        _clear_stale_location(spark, name)
        store = spark.table(ensure_clustered_store(spark, sf_dir, n_centroids))
        cents = store.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid2"), F.col("embedding").alias("ce")
        )
        radii = (
            store.join(
                F.broadcast(cents),
                F.col("cid").cast("long") == F.col("cid2"),
            )
            .select(
                F.col("cid").cast("long").alias("cid"),
                V.euclidean_distance("embedding", "ce").alias("dc"),
            )
            .groupBy("cid")
            .agg(F.max("dc").alias("r_cell"))
        )
        radii.write.format("parquet").mode("overwrite").saveAsTable(name)
    return name


def clustered_range_search(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    radius: float | None = None,
) -> DataFrame:
    """v16 served off the stored layout (v16b): the pruning bound reads the
    STORED per-cell radii (n_centroids rows) instead of re-aggregating the
    corpus per query, and surviving cells resolve to a literal partition
    filter on the cid-partitioned store — the exact-search analog of
    v13_clustered_ivf_topk. Bit-identical result (and oracle) to
    v16_range_search_pruned; recall stays 1.0 because the stored bound is
    the same conservative triangle-inequality statistic."""
    from ..functions import vector as V
    from ..operators.similarity import RANGE_PRUNE_EPS, RANGE_RADIUS
    from ..operators.similarity import _query_vectors

    if radius is None:
        radius = RANGE_RADIUS
    store_name = ensure_clustered_store(spark, sf_dir)
    radii = spark.table(ensure_cell_radii(spark, sf_dir))
    store = spark.table(store_name)
    tables = load_tables(spark, sf_dir)
    q = _query_vectors(tables, [query_id])

    cents = store.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    live_rows = (
        cents.join(F.broadcast(radii), "cid")
        .crossJoin(F.broadcast(q))
        .select(
            "cid",
            (V.euclidean_distance("ce", "query_vec") - F.col("r_cell")).alias("lb"),
        )
        .filter(F.col("lb") <= F.lit(radius + RANGE_PRUNE_EPS))
        .select("cid")
        .collect()  # bounded by n_centroids: the literal partition filter
    )
    live_cids = [int(r.cid) for r in live_rows]
    dist = F.round(V.euclidean_distance("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        store.filter(F.col("cid").isin(live_cids))  # partition pruning
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", dist.alias("dist"))
        .filter(F.col("dist") <= radius)
    )


def dpp_cell_stats(spark: SparkSession, sf_dir: str, query_id: int = 0) -> DataFrame:
    """v21: DYNAMIC partition pruning over the clustered store — the probe
    cell set is a runtime-computed DataFrame (cells whose seed centroid
    carries label 1), not a driver-resolved literal list, and Catalyst
    injects it into the store scan as a dynamicpruningexpression
    PartitionFilter (plan-test-asserted). This is the pruning form that
    matters when the cell set comes out of a PRIOR query stage (routing,
    access control, a session's topic profile) and cannot be inlined at
    plan time; v13's literal filter covers the plan-time-known case.
    Per surviving cell: occupancy and the best cosine hit for the query."""
    from ..functions import vector as V
    from ..operators.similarity import _query_vectors

    name = ensure_clustered_store(spark, sf_dir)
    store = spark.table(name)
    probe = (
        store.filter((F.col("vec_id") < IVF_N_CENTROIDS) & (F.col("label") == 1))
        .select(F.col("vec_id").cast("int").alias("cid"))
    )
    q = _query_vectors(load_tables(spark, sf_dir), [query_id])
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        store.join(probe, "cid")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col("cid").cast("long").alias("cid"), sim.alias("cos_sim"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("cos_sim").alias("best_sim"),
        )
    )


def ensure_sq8_clustered_store(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> str:
    """Write the embeddings store QUANTIZED (SQ8 codes + per-vector scale,
    operators/similarity.sq8_scale_codes) AND partitioned by its IVF cell
    — pruning and compression composed, which is the actual 100 TB serving
    layout: a probe reads n_probe/n_centroids of a store that is itself
    ~4× smaller at rest (48 MB vs the 180 MB float32 source at the 1M
    tile). Both transformations are scan-fused projections; the write pays
    them once. Raw embeddings are NOT stored — the read path never needs
    them (cosine scores raw codes; the exact query vector comes from the
    source table). The per-cell radii statistic (v25's pruning bound)
    rides the SAME assignment pass: a standalone radii build would re-run
    the corpus-sized GEMM assignment a second time (measured 173 s of a
    178 s store build at 1M vectors / k=2048 — the whole write path,
    twice), and this is the one moment the raw vectors are guaranteed in
    flight. Idempotent per (warehouse, sf_dir, n_centroids)."""
    from ..operators.similarity import _ivf_assign, sq8_project

    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    # n_centroids is part of the key: a later call with a different k must
    # not silently serve the stale layout (ADVICE r6)
    name = f"embeddings_sq8_{tag}_k{n_centroids}"
    radii_name = f"sq8_cell_radii_{tag}_k{n_centroids}"
    if not spark.catalog.tableExists(name):
        _clear_stale_location(spark, name)
        emb = load_tables(spark, sf_dir)["embeddings"]
        cents, assigned = _ivf_assign(emb, n_centroids)
        # persist across the two writes: without it the radii job would
        # replay the whole assignment lineage (the corpus-sized GEMM)
        assigned = assigned.persist()
        try:
            (
                sq8_project(assigned).select(
                    "vec_id",
                    "label",
                    "scale",
                    # codes are integer-valued in [-127, 127]: store them
                    # as REAL int8 (parquet bit-packs to ~1 byte/element —
                    # the at-rest cut the tier promises), not as the
                    # doubles the quantization expression emits. Read
                    # paths cast back to array<double> so scoring
                    # arithmetic is bit-identical to the unstored (v23)
                    # tier.
                    F.col("codes").cast("array<tinyint>").alias("codes"),
                    "cid",
                )
                # one shuffle of the already-quantized payload buys a
                # one-file-per-cell layout (see ensure_clustered_store)
                .repartition("cid")
                .write.format("parquet")
                .partitionBy("cid")
                .mode("overwrite")
                .saveAsTable(name)
            )
            if not spark.catalog.tableExists(radii_name):
                _clear_stale_location(spark, radii_name)
                _cell_radii(assigned, cents).write.format("parquet").mode(
                    "overwrite"
                ).saveAsTable(radii_name)
        finally:
            assigned.unpersist()
    return name


def quantized_clustered_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
) -> DataFrame:
    """V24: IVF-pruned top-k over the QUANTIZED clustered store — v13's
    partition-pruned probe composed with v23's SQ8 scoring. The probe
    list resolves driver-side against the centroid model (from the source
    table — the store has no raw vectors) and pushes as a literal
    partition filter; within the probed cells, candidates score as cosine
    over their stored int8 codes (scale-invariance: no dequantization).
    Deterministic quantization + deterministic probe ⇒ the oracle
    reproduces the exact served set (approximation inside the oracle).

    Plan shape (asserted): PartitionFilters on cid, no shuffle Exchange,
    TakeOrderedAndProject — the scan reads n_probe/n_centroids of a
    4-8× compressed store. This is the end state every ANN docstring in
    this engine points at: layout does the pruning, quantization does the
    bandwidth, the plan is a filtered scan + a top-k."""
    from ..operators.similarity import _topk_cells, build_seeds, probe_query

    name = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    # int8 at rest; double in flight (bit-identical scoring vs v23)
    store = spark.table(name).withColumn(
        "codes", F.col("codes").cast("array<double>")
    )
    qvec, probe = probe_query(
        load_tables(spark, sf_dir)["embeddings"],
        build_seeds(n_centroids), query_id, n_probe,
    )
    return _topk_cells(
        store.filter(F.col("cid").isin(probe)),  # partition pruning
        "codes", qvec, query_id, k,
    )


def _clear_stale_location(spark: SparkSession, name: str) -> None:
    """The in-memory catalog forgets tables between sessions but the
    warehouse directory survives — clear a stale location so the managed
    create doesn't refuse it (shared by every ensure_* writer here).
    Not safe for two live processes on one warehouse: a table this
    session's catalog does not know may be another process's store, still
    being read, and its directory is deleted all the same."""
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = os.path.join(warehouse.removeprefix("file:"), name)
    if warehouse.startswith(("file:", "/")) and os.path.exists(loc):
        shutil.rmtree(loc)


def _cell_radii(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-cell max raw distance to seed centroid over an assignment —
    ONE home for the r_cell formula so the fused store-build path and the
    standalone builder can never drift. ROUNDed to 9 digits so the
    boundary compare in the live-cell filter is bit-aligned with the SQL
    oracle (the sq8 qerr/max_scale move)."""
    from ..functions import vector as V

    return (
        assigned.join(
            F.broadcast(cents.select(F.col("cid").alias("cid2"), "ce")),
            F.col("cid") == F.col("cid2"),
        )
        .select("cid", V.euclidean_distance("embedding", "ce").alias("dc"))
        .groupBy("cid")
        .agg((F.round(F.max("dc"), 9) + F.lit(0.0)).alias("r_cell"))
    )


def ensure_sq8_cell_radii(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> str:
    """Per-cell max raw distance to seed centroid (r_cell), the stored
    pruning statistic for the QUANTIZED store family — normally written
    by ensure_sq8_clustered_store in the SAME pass as the store (the raw
    vectors are in flight exactly once; this call then no-ops on the
    existing table). The standalone path below exists for a radii-only
    rebuild and depends only on the SOURCE table — it never materializes
    a raw clustered store. Idempotent per (warehouse, sf_dir,
    n_centroids)."""
    from ..operators.similarity import _ivf_assign

    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    name = f"sq8_cell_radii_{tag}_k{n_centroids}"
    if not spark.catalog.tableExists(name):
        _clear_stale_location(spark, name)
        emb = load_tables(spark, sf_dir)["embeddings"]
        cents, assigned = _ivf_assign(emb, n_centroids)
        _cell_radii(assigned, cents).write.format("parquet").mode(
            "overwrite"
        ).saveAsTable(name)
    return name


def quantized_range_search(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    radius: float | None = None,
    n_centroids: int = IVF_N_CENTROIDS,
) -> DataFrame:
    """V25: range search over the QUANTIZED clustered store with STORED
    per-cell radii — the serving family's last uncomposed pair (v16b ×
    v24, VERDICT r6 task 4): layout does the pruning (triangle-inequality
    bound off the n_centroids-row radii table resolves to a literal
    partition filter), quantization does the bandwidth (surviving cells
    stream int8 codes, never raw vectors). Distances are computed on the
    RECONSTRUCTION (codes · scale) in ONE zip_with fold — `scale` is a
    materialized column reference, so nothing re-expands (the sq8_project
    discipline). Two composed approximations, both deterministic: the
    oracle recomputes radii, live set, codes, and reconstructed distances
    end to end, so the served set is hash-verified WITH its approximation
    (the d3c/v22/v24 move); recall vs the exact v16 answer is
    unit-tested.

    Scale shape: the radii/centroid side is n_centroids rows (broadcast +
    driver-resolved literal, the v16b move); the data side reads only the
    live cells of a 4-8× compressed store — a range query's cost is
    bounded by the geometry around the query, not the corpus.
    Reference semantics: threshold-bounded similarity retrieval
    (vs_retriever.py:268-280) under the compressed clustered layout."""
    from ..functions import vector as V
    from ..operators.similarity import (
        RANGE_PRUNE_EPS,
        RANGE_RADIUS,
        _query_vectors,
    )

    if radius is None:
        radius = RANGE_RADIUS
    store = spark.table(ensure_sq8_clustered_store(spark, sf_dir, n_centroids))
    radii = spark.table(ensure_sq8_cell_radii(spark, sf_dir, n_centroids))
    tables = load_tables(spark, sf_dir)
    q = _query_vectors(tables, [query_id])

    cents = tables["embeddings"].filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid2"), F.col("embedding").alias("ce")
    )
    live_rows = (
        cents.join(F.broadcast(radii), F.col("cid2") == F.col("cid"))
        .crossJoin(F.broadcast(q))
        .select(
            "cid2",
            (
                F.round(V.euclidean_distance("ce", "query_vec"), 9)
                - F.col("r_cell")
            ).alias("lb"),
        )
        .filter(F.col("lb") <= F.lit(radius + RANGE_PRUNE_EPS))
        .select("cid2")
        .collect()  # bounded by n_centroids: the literal partition filter
    )
    live_cids = [int(r.cid2) for r in live_rows]

    # reconstructed euclidean distance in one fold; codes are exact stored
    # integers, scale is a plain column reference (no HOF re-expansion)
    d2 = F.aggregate(
        F.zip_with(
            "codes",
            "query_vec",
            lambda c, qv: (c.cast("double") * F.col("scale") - qv.cast("double"))
            * (c.cast("double") * F.col("scale") - qv.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dist = F.round(F.sqrt(d2), 3) + F.lit(0.0)
    return (
        store.filter(F.col("cid").isin(live_cids))  # partition pruning
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", dist.alias("dist"))
        .filter(F.col("dist") <= radius)
    )


def quantized_ivf_knn_join(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 20,
    k: int = 3,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
) -> DataFrame:
    """V26: batch ANN kNN join over the QUANTIZED clustered store —
    completing the serving matrix {single, batch} × {raw, SQ8}: v13/v15
    serve the raw layout, v24 serves one query off the compressed layout,
    this is the production read shape (a query BATCH amortizing one scan)
    over the compressed layout. Queries and the centroid model come from
    the SOURCE table (the store holds no raw vectors); each query's
    n_probe cells resolve via a per-query window over the broadcast
    centroid crossproduct, and the probe set joins the store on its
    PARTITION column — runtime (dynamic) partition pruning, the v21
    mechanism, because a per-query probe list cannot be a driver literal.
    Candidates score as cosine over stored int8 codes (scale-invariance:
    no dequantization), per-query top-k via one window.

    Scale shape: ONE scan of the union of probed cells serves the whole
    batch (per-query scans would read shared cells once per query); the
    only full-width shuffle is the final window over candidates, bounded
    by n_queries · n_probe · cell occupancy, not the corpus. Reference
    semantics: batched retrieval across concurrent sessions
    (vs_retriever.py:268-280) under the compressed clustered layout."""
    from pyspark.sql import Window

    from ..functions import vector as V

    name = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    store = (
        spark.table(name)
        .withColumn("cid", F.col("cid").cast("long"))
        # int8 at rest; double in flight (bit-identical scoring vs v23)
        .withColumn("codes", F.col("codes").cast("array<double>"))
    )
    src = load_tables(spark, sf_dir)["embeddings"]
    cents = src.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("ce")
    )
    q = src.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return quantized_knn_serve(store, cents, q, k, n_probe)


def quantized_knn_serve(
    store: DataFrame, cents: DataFrame, q: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """The v26 serve tail — per-query probe resolution, DPP'd store join,
    SQ8 scoring, per-query top-k — factored out so the batch op (v26) and
    the streaming serving twin (st21) run ONE plan and can never drift.
    `q` is any (query_id, query_vec) DataFrame (a batch subset, a stream
    micro-batch)."""
    from pyspark.sql import Window

    from ..functions import vector as V

    w_probe = Window.partitionBy("query_id").orderBy(F.asc("qdist"), F.asc("ccid"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "ccid",
            "query_id",
            "query_vec",
            V.euclidean_distance("ce", "query_vec").alias("qdist"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("ccid").cast("long").alias("cid"), "query_id", "query_vec")
    )
    sim = F.round(V.cosine_similarity("codes", "query_vec"), 3) + F.lit(0.0)
    w_k = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        store.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", "cid", sim.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def ensure_residual_sq8_store(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> str:
    """Write the embeddings store RESIDUAL-quantized AND cid-partitioned —
    v27's stored layout: codes hold SQ8(x − centroid[cid]) as real int8
    (same at-rest cut as the direct-SQ8 store) plus the per-vector rscale.
    The residual projection rides the SAME assignment pass the clustered
    write already pays (operators/similarity.residual_sq8_project), so
    centring the quantizer on the cell costs ZERO extra passes — the
    whole point of by_residual on a layout that already knows the cell.
    Raw vectors are NOT stored; the read path reconstructs against the
    k-row centroid model from the source table. Idempotent per
    (warehouse, sf_dir, n_centroids)."""
    from ..operators.similarity import _ivf_assign, residual_sq8_project

    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    name = f"embeddings_rsq8_{tag}_k{n_centroids}"
    if not spark.catalog.tableExists(name):
        _clear_stale_location(spark, name)
        emb = load_tables(spark, sf_dir)["embeddings"]
        cents, assigned = _ivf_assign(emb, n_centroids)
        (
            residual_sq8_project(assigned, cents)
            .select(
                "vec_id",
                "label",
                "rscale",
                F.col("rcodes").cast("array<tinyint>").alias("rcodes"),
                "cid",
            )
            .repartition("cid")
            .write.format("parquet")
            .partitionBy("cid")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def residual_clustered_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
) -> DataFrame:
    """V27b: v27 over its STORED layout — the physical-form twin (the
    v7/v13 pattern applied to the residual tier): the probe list resolves
    driver-side and pushes as a literal partition filter over the
    residual-quantized store; candidates reconstruct x̂ = ce + rcodes·
    rscale against the held cell model (the probed cells' centroids as
    one literal map) and score exactly like v27, so the served set is
    identical and the oracle is shared.

    Plan shape (guarded): PartitionFilters on cid, no hash exchange, no
    join, TakeOrderedAndProject — v24's read bandwidth with the residual
    grid's reconstruction quality."""
    import numpy as np

    from ..operators.similarity import (
        _topk_cells,
        build_seeds,
        cell_model,
        probe_query,
    )

    name = ensure_residual_sq8_store(spark, sf_dir, n_centroids)
    emb = load_tables(spark, sf_dir)["embeddings"]
    seeds = build_seeds(n_centroids)
    qvec, probe = probe_query(emb, seeds, query_id, n_probe)
    ce_of = dict(cell_model(emb, seeds))
    # the probed cells' centroids as one literal map, looked up by cid
    cents = F.create_map(*(
        x
        for c in probe
        for x in (F.lit(c), F.lit(np.asarray(ce_of[c], dtype=np.float64)))
    ))
    recon = F.zip_with(
        cents[F.col("cid").cast("long")],
        F.col("rcodes").cast("array<double>"),
        lambda c, rc: c + rc * F.col("rscale"),
    )
    store = spark.table(name).filter(F.col("cid").isin(probe))  # partition pruning
    return _topk_cells(store.withColumn("recon", recon), "recon", qvec, query_id, k)


def ensure_rp_store(spark: SparkSession, sf_dir: str) -> str:
    """Write the random-projection store: (vec_id, label, pv) where pv is
    the 24-coordinate JL projection of the embedding, computed ONCE at
    ingest — the project-once/serve-many split v29's docstring promises.
    Coordinates are stored as the exact doubles the on-the-fly form
    computes (not narrowed to float32), so the stored coarse phase is
    bit-identical to v29's and the physical-form twins share one oracle.
    The cache key carries the projection width (the v24/ADVICE lesson:
    a layout keyed without its config silently serves a stale shape).
    Idempotent per (warehouse, sf_dir, RP_DIM)."""
    from ..operators.similarity import RP_DIM, _rp_project

    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    name = f"embeddings_rp_{tag}_p{RP_DIM}"
    if not spark.catalog.tableExists(name):
        _clear_stale_location(spark, name)
        emb = load_tables(spark, sf_dir)["embeddings"]
        (
            emb.select(
                "vec_id", "label", _rp_project("embedding").alias("pv")
            )
            .write.format("parquet")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return name


def rp_stored_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    coarse_c: int | None = None,
) -> DataFrame:
    """V29b: v29 over its STORED projection — the physical-form twin (the
    v7/v13/v27b pattern). The coarse phase scans ONLY the projection
    store (24 doubles per row — no raw embedding column at rest in the
    scan, ~2.7x less bandwidth than the 64-float source and zero
    projection arithmetic per query); the C surviving candidate ids
    resolve driver-side (bounded by coarse_c, the v27b probe-collect
    move) and push into the SOURCE scan as a literal IN filter, so the
    exact 64-dim re-rank touches C rows regardless of corpus size.
    Stored coordinates are the exact doubles v29 computes, so the
    candidate set, the re-ranked scores, and the served set are
    identical — the oracle is shared."""
    from ..functions import vector as V
    from ..operators.similarity import (
        RP_COARSE_C,
        _query_vectors,
        _rp_cosine,
        _rp_project,
    )

    if coarse_c is None:
        coarse_c = RP_COARSE_C
    name = ensure_rp_store(spark, sf_dir)
    store = spark.table(name)
    tables = load_tables(spark, sf_dir)
    q = _query_vectors(tables, [query_id])
    qp = q.select(_rp_project("query_vec").alias("qv"))
    cand_rows = (
        store.crossJoin(F.broadcast(qp))
        .filter(F.col("vec_id") != query_id)
        .select(
            "vec_id",
            _rp_cosine(F.col("pv"), F.col("qv")).alias("coarse"),
        )
        .orderBy(F.desc("coarse"), F.asc("vec_id"))
        .limit(coarse_c)
        .collect()  # bounded by coarse_c: the literal candidate list
    )
    cand_ids = [int(r.vec_id) for r in cand_rows]
    emb = tables["embeddings"]
    sim = F.round(V.cosine_similarity("embedding", "query_vec"), 3) + F.lit(0.0)
    return (
        emb.filter(F.col("vec_id").isin(cand_ids))  # pushed IN filter
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def choose_serving_tier(
    profile: DataFrame, n_docs: int, threshold: float = 0.05
) -> str:
    """Turn a corpus_dup_profile (d17) into the quantized serving tier —
    SCALE.md finding 14 codified as a data-derived knob (the
    choose_lsh_bucket_cap pattern): the 1M recall sweep measured direct
    SQ8 plateauing at recall 0.925 on a near-duplicate-heavy corpus (rank
    inversion among copies below int8 resolution) while the residual grid
    restores 1.000 at n_probe=1 for zero extra build cost. The d17
    profile's colliding_docs upper-bounds the duplicate fraction, so:
    bound = max-band colliding_docs / n_docs; >= threshold -> 'residual',
    else 'direct'. The profile is n_bands rows — the collect is O(1)."""
    rows = [r for r in profile.collect() if r.n_colliding_buckets]
    bound = max((r.colliding_docs for r in rows), default=0) / max(n_docs, 1)
    return "residual" if bound >= threshold else "direct"


def auto_tier_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
    threshold: float = 0.05,
    tier: str | None = None,
) -> DataFrame:
    """V30: dup-profile-routed quantized serving — the pre-flight d17
    probe picks the tier (direct SQ8 on clean corpora: smaller read
    path; residual SQ8 when near-duplication would corrupt direct-SQ8
    ordering), then the chosen stored layout serves exactly as
    v24/v27b. Deterministic end to end (deterministic profile, exact
    threshold compare, deterministic tiers), so the oracle recomputes
    the ROUTING DECISION and the chosen chain — the e2e_auto_curation
    "knob inside the oracle" move applied to serving. The tier rides
    along as an output column so the route itself is hash-verified.

    The d17 profile pass runs per call in this harness form (it is what
    the oracle verifies); a serving daemon routes ONCE per corpus
    generation and passes the decision via `tier` — the profile is a
    property of the corpus, not of the query (review r8)."""
    from ..operators.dedup import corpus_dup_profile

    if tier is None:
        t = load_tables(spark, sf_dir)
        tier = choose_serving_tier(
            corpus_dup_profile(t), t["documents"].count(), threshold
        )
    if tier not in ("direct", "residual"):
        raise ValueError(f"unknown serving tier {tier!r}")
    if tier == "residual":
        df = residual_clustered_topk(
            spark, sf_dir, query_id, k, n_probe, n_centroids
        )
    else:
        df = quantized_clustered_topk(
            spark, sf_dir, query_id, k, n_probe, n_centroids
        )
    return df.select(
        "vec_id", "label", "cid", "cos_sim", F.lit(tier).alias("tier")
    )
