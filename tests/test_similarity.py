"""Semantic tests for the similarity operators (beyond oracle parity)."""

from __future__ import annotations

from ai_optimizer_spark.operators import similarity as S
from ai_optimizer_spark.tables import load_tables


def test_mmr_is_deterministic_and_diverse(spark, sf_medium):
    t = load_tables(spark, sf_medium)
    a = [tuple(r) for r in S.mmr_rerank(t).collect()]
    b = [tuple(r) for r in S.mmr_rerank(t).collect()]
    assert a == b
    assert len(a) == S.TOP_K
    # rank 1 is the most relevant candidate; ranks are 1..k
    assert [r[1] for r in a] == list(range(1, S.TOP_K + 1))
    assert a[0][2] == max(r[2] for r in a)


def test_lsh_bucket_is_subset_of_exact_scores(spark, sf_medium):
    """LSH top-k scores can't beat exact top-k scores (it searches a subset)."""
    t = load_tables(spark, sf_medium)
    exact = {r.vec_id: r.cos_sim for r in S.cosine_topk(t, k=500).collect()}
    approx = S.lsh_bucket_topk(t, k=5).collect()
    assert all(r.vec_id in exact and abs(exact[r.vec_id] - r.cos_sim) < 1e-9 for r in approx)


def test_threshold_default_prunes(spark, sf_medium):
    t = load_tables(spark, sf_medium)
    n_all = t["embeddings"].count() - 1
    n_kept = S.threshold_search(t).count()
    assert 0 < n_kept < n_all


def test_batch_mmr_matches_single_query_mmr(spark, sf_small):
    """The grouped applyInPandas MMR must produce exactly the driver-side
    MMR result for each query it covers."""
    from ai_optimizer_spark.operators.similarity import mmr_rerank, mmr_rerank_batch
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    batch = mmr_rerank_batch(t, n_queries=3)
    got = {
        (r.query_id, r.mmr_rank): (r.vec_id, r.relevance)
        for r in batch.collect()
    }
    for qid in range(3):
        single = mmr_rerank(t, query_id=qid)
        for r in single.collect():
            assert got[(qid, r.mmr_rank)] == (r.vec_id, r.relevance)


def test_kmeans_refined_ivf_recall(spark, sf_small):
    """Refined cells must keep (usually improve) recall vs the exact top-k;
    with all cells probed the result must equal brute force."""
    from ai_optimizer_spark.operators.similarity import cosine_topk, ivf_kmeans_topk
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in cosine_topk(t, query_id=0, k=8).collect()}
    full = {
        r.vec_id
        for r in ivf_kmeans_topk(t, query_id=0, k=8, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact
    partial = {
        r.vec_id
        for r in ivf_kmeans_topk(t, query_id=0, k=8, n_centroids=8, n_probe=3).collect()
    }
    assert len(partial & exact) >= 2


def test_pq_recall_and_full_refine_exactness(spark, sf_small):
    """PQ with a generous refine budget must recover the exact top-k (the
    re-rank is exact cosine, so recall failures can only come from the ADC
    candidate cut); at the default budget recall must stay useful."""
    from ai_optimizer_spark.operators.similarity import cosine_topk, pq_topk
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in cosine_topk(t, query_id=0, k=8).collect()}
    generous = {
        r.vec_id for r in pq_topk(t, query_id=0, k=8, refine=1000).collect()
    }
    assert generous == exact
    default = {r.vec_id for r in pq_topk(t, query_id=0, k=8).collect()}
    assert len(default & exact) >= 4


def test_range_search_exact_and_pruning(spark, sf_small):
    """v16 on the driver corpus must equal brute force exactly (zero recall
    loss is the op's contract); on a genuinely clustered corpus the
    triangle-inequality bound must prune most cells."""
    import math

    from pyspark.sql import functions as F

    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.similarity import (
        RANGE_RADIUS,
        _ivf_assign,
        _query_vectors,
        _range_live_cells,
        range_search,
    )

    t = load_tables(spark, sf_small)
    got = {tuple(r) for r in range_search(t).collect()}
    dist = F.round(V.euclidean_distance("embedding", "query_vec"), 3) + F.lit(0.0)
    brute = {
        tuple(r)
        for r in t["embeddings"]
        .crossJoin(F.broadcast(_query_vectors(t, [0])))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", dist.alias("dist"))
        .filter(F.col("dist") <= RANGE_RADIUS)
        .collect()
    }
    assert got == brute

    # clustered corpus: 8 tight clusters far apart; query sits in cluster 0
    # with radius smaller than the inter-cluster spacing -> only cluster 0's
    # cell(s) may survive the bound
    n_clusters, per, dim = 8, 40, 8
    rows = []
    for c in range(n_clusters):
        center = [0.0] * dim
        center[c % dim] = 100.0 * (1 + c // dim)
        for j in range(per):
            jitter = [
                0.01 * math.sin(0.7 * (c * per + j) + d) for d in range(dim)
            ]
            # interleaved ids: the deterministic seed set (vec_id < 16)
            # spans every cluster, as k-means centers would
            rows.append(
                (j * n_clusters + c, [center[d] + jitter[d] for d in range(dim)], c)
            )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tc = {"embeddings": emb}
    cents, assigned = _ivf_assign(emb, 16)
    cell_r = (
        assigned.join(F.broadcast(cents), "cid")
        .select("cid", V.euclidean_distance("embedding", "ce").alias("dc"))
        .groupBy("cid")
        .agg(F.max("dc").alias("r_cell"))
    )
    live = _range_live_cells(cents, cell_r, _query_vectors(tc, [0]), 1.0)
    n_cells = cell_r.count()
    n_live = live.count()
    assert n_live < n_cells / 2, (n_live, n_cells)

    got_c = {tuple(r) for r in range_search(tc, query_id=0, radius=1.0).collect()}
    brute_c = {
        tuple(r)
        for r in emb.crossJoin(F.broadcast(_query_vectors(tc, [0])))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", dist.alias("dist"))
        .filter(F.col("dist") <= 1.0)
        .collect()
    }
    assert got_c == brute_c and len(got_c) > 0


def test_ivfpq_recall_and_full_budget_exactness(spark, sf_small):
    """IVFPQ with every cell probed and a generous refine budget must
    recover the exact top-k (re-rank is exact cosine; the coarse+ADC cuts
    are the only approximation); at the default budget recall must stay
    useful."""
    from ai_optimizer_spark.operators.similarity import cosine_topk, ivfpq_topk
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in cosine_topk(t, query_id=0, k=8).collect()}
    generous = {
        r.vec_id
        for r in ivfpq_topk(
            t, query_id=0, k=8, n_centroids=8, n_probe=8, refine=1000
        ).collect()
    }
    assert generous == exact
    default = {r.vec_id for r in ivfpq_topk(t, query_id=0, k=8).collect()}
    assert len(default & exact) >= 4


def test_hier_assignment_exact_when_fully_probed_and_agrees_when_pruned(
    spark, sf_small
):
    """v22's two-level assignment contract: with g_probe == n_groups it IS
    the flat argmin (bit-identical cells for every vector); at the pruned
    default it must still agree on the overwhelming majority (the pilot
    heuristic's quality on the fixture), and every disagreement must still
    assign to a member of a level-1-chosen group."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import (
        HIER_GROUP_SIZE,
        _assign_cells,
        _assign_cells_hier,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    rows = cents.collect()
    flat = {r.vec_id: r.cid for r in _assign_cells(emb, cents, rows=rows).collect()}
    full = {
        r.vec_id: r.cid
        for r in _assign_cells_hier(
            emb, rows, group_size=HIER_GROUP_SIZE, g_probe=16 // HIER_GROUP_SIZE
        ).collect()
    }
    assert full == flat  # fully probed == exact argmin

    # pruned tier: per-vector agreement is data-dependent (the synthetic
    # fixture has no cluster structure, so the pilot heuristic agrees on
    # ~2/3) — the SERVING metric is query-level recall, asserted below
    pruned = {
        r.vec_id: r.cid
        for r in _assign_cells_hier(emb, rows, g_probe=2).collect()
    }
    agree = sum(1 for v in flat if pruned[v] == flat[v]) / len(flat)
    assert agree >= 0.6, agree

    from ai_optimizer_spark.tables import load_tables
    from ai_optimizer_spark.operators.similarity import (
        cosine_topk,
        hier_ivf_topk,
        ivf_topk,
    )

    t = load_tables(spark, sf_small)
    v7 = {r.vec_id for r in ivf_topk(t).collect()}
    v22 = {r.vec_id for r in hier_ivf_topk(t).collect()}
    exact = {r.vec_id for r in cosine_topk(t).collect()}
    # approximate tier: ≥7 of 8 served hits match both the flat-IVF and
    # the brute-force answer on every fixture (8/8 at sf0.01/sf0.1; one
    # boundary vector moves at sf0.001)
    assert len(v22 & v7) >= 7, (sorted(v22), sorted(v7))
    assert len(v22 & exact) >= 7, (sorted(v22), sorted(exact))


# sha256 of the sorted "vec_id:cid" lines of the (vec_id -> cid) map the
# flat inlined-literal argmin (the assignment kernel before the numpy one
# replaced it) produced on the sf0.001 fixture, centroids = vec_id < k
FLAT_ASSIGNMENT_DIGESTS = {
    16: "1977b49aee52d392f87d5c1b4ea7f332d9820e7cdd3f8929c95082f5ed7513b1",
    65: "3b754d996dd067f0051f0682f6a6bf6b166194ae665c54bf5a2d1ef9b7882730",
}


def test_np_assignment_tier_matches_flat_on_fixture(spark, sf_small):
    """The numpy assignment kernel reproduces the retired flat expression
    argmin exactly: same (vec_id -> cid) map on the fixture corpus, at the
    oracle-pinned k=16 and at k=65, checked against the recorded digests."""
    import hashlib

    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    for k, digest in FLAT_ASSIGNMENT_DIGESTS.items():
        cents = emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
        got = sorted((r.vec_id, r.cid) for r in _assign_cells(emb, cents).collect())
        assert len(got) == 500 and len({c for _, c in got}) == k, k
        lines = "\n".join(f"{v}:{c}" for v, c in got)
        assert hashlib.sha256(lines.encode()).hexdigest() == digest, k


def test_np_assignment_tie_breaks_min_cid(spark):
    """Exact-tie contract: a vector equidistant to two centroids assigns
    to the MIN cid, regardless of centroid row order (the kernel sorts
    cid-ascending before argmin)."""
    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.createDataFrame(
        [(0, "a", [1.0, 0.0]), (1, "b", [3.0, 4.0])],
        "vec_id long, label string, embedding array<double>",
    )
    # centroid rows deliberately OUT of cid order; vec 0 is exactly
    # equidistant (dist 1.0) from cids 7 and 2 -> must pick 2
    cents = emb.sparkSession.createDataFrame(
        [(7, [2.0, 0.0]), (2, [0.0, 0.0]), (9, [100.0, 100.0])],
        "cid long, ce array<double>",
    )
    got = {r.vec_id: r.cid for r in _assign_cells(emb, cents).collect()}
    assert got == {0: 2, 1: 7}, got


def test_assignment_empty_model_is_typed_empty(spark):
    """The empty-centroid guard: zero cells -> typed empty result."""
    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.createDataFrame(
        [(0, "a", [1.0, 0.0])],
        "vec_id long, label string, embedding array<double>",
    )
    cents = emb.sparkSession.createDataFrame(
        [], "cid long, ce array<double>"
    )
    out = _assign_cells(emb, cents)
    assert out.collect() == []
    assert out.columns == ["vec_id", "label", "embedding", "cid"]


def test_np_assignment_matches_flat_on_degenerate_embeddings(spark):
    """NULL / zero / NaN / wrong-dim embeddings get the cids the retired
    flat expression argmin gave them (recorded literals): NULL distances
    fall through to the min cid, NaN sorts greatest."""
    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.createDataFrame(
        [
            (0, "zero", [0.0, 0.0]),
            (1, "null", None),
            (2, "nan", [float("nan"), 1.0]),
            (3, "short", [1.0]),
            (4, "ok", [5.0, 0.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(3, [0.0, 0.0]), (8, [4.0, 0.0])], "cid long, ce array<double>"
    )
    got = {r.vec_id: r.cid for r in _assign_cells(emb, cents).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 8}, got


def test_sq8_quantization_contract_and_recall(spark, sf_small):
    """v23's quantization contract: codes are integer-valued in
    [-SQ8_LEVELS, SQ8_LEVELS] (int8-serializable — the 4-8× storage cut
    the tier exists for), reconstruction error is bounded by scale/2 per
    dimension, a zero vector stores scale 0 + zero codes without raising,
    and the served top-k stays >=7/8 of the exact answer on the fixture."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import (
        SQ8_LEVELS,
        cosine_topk,
        sq8_store,
        sq8_topk,
    )
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    store = sq8_store(t["embeddings"])
    bad = store.filter(
        F.exists(
            "codes",
            lambda c: (c != F.round(c))
            | (F.abs(c) > SQ8_LEVELS)
        )
    ).count()
    assert bad == 0

    # zero vector: scale 0, all-zero codes, no divide-by-zero
    zero = spark.createDataFrame(
        [(0, "z", [0.0, 0.0, 0.0])],
        "vec_id long, label string, embedding array<double>",
    )
    r = sq8_store(zero).collect()[0]
    assert r.scale == 0.0 and list(r.codes) == [0.0, 0.0, 0.0]

    exact = {r.vec_id for r in cosine_topk(t).collect()}
    served = {r.vec_id for r in sq8_topk(t).collect()}
    assert len(served & exact) >= 7, (sorted(served), sorted(exact))


def test_quantized_clustered_topk_matches_probed_sq8(spark, sf_small):
    """v24's served set: within the probed cells the scoring is exactly
    v23's (same codes, same cosine) — so v24 equals brute-force SQ8
    restricted to the probe, and stays >=6/8 of the exact answer on the
    fixture (two approximations composed: probe + quantization)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import cosine_topk
    from ai_optimizer_spark.plans.bucketing import quantized_clustered_topk
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in cosine_topk(t).collect()}
    served_rows = quantized_clustered_topk(spark, sf_small).collect()
    served = {r.vec_id for r in served_rows}
    assert len(served_rows) == 8
    assert len(served & exact) >= 6, (sorted(served), sorted(exact))


def test_assignment_tiers_reject_degenerate_centroids_identically(spark):
    """A degenerate centroid MODEL (NULL vector, or a NULL element inside
    one) raises one clear ValueError, not a TypeError from the float64
    matrix build. NaN centroid elements stay legal (a NaN distance is
    never picked unless every distance is NaN)."""
    import pytest

    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.createDataFrame(
        [(0, "a", [1.0, 0.0])],
        "vec_id long, label string, embedding array<double>",
    )
    for bad in (
        [(1, None), (2, [0.0, 0.0])],           # NULL centroid vector
        [(1, [1.0, None]), (2, [0.0, 0.0])],    # NULL element
    ):
        cents = spark.createDataFrame(bad, "cid long, ce array<double>")
        with pytest.raises(ValueError, match="degenerate centroid"):
            _assign_cells(emb, cents).collect()

    # NaN centroid element: never picked (recorded from the flat argmin)
    cents = spark.createDataFrame(
        [(1, [float("nan"), 0.0]), (2, [0.0, 0.0])], "cid long, ce array<double>"
    )
    got = {r.vec_id: r.cid for r in _assign_cells(emb, cents).collect()}
    assert got == {0: 2}


def test_quantized_range_search_recall_and_pruning_consistency(spark, sf_small):
    """v25's two composed approximations, bounded on the fixture: the
    served set must (a) agree with exact v16 range search on most of the
    exact answer (quantization shifts distances only slightly), and
    (b) be EXACTLY the brute-force reconstructed-distance answer
    restricted to the live cells — i.e. pruning + quantization fully
    explain the result (the oracle's claim, checked operator-side)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.similarity import (
        RANGE_RADIUS,
        _query_vectors,
        range_search,
    )
    from ai_optimizer_spark.operators.similarity import sq8_project
    from ai_optimizer_spark.plans.bucketing import quantized_range_search
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in range_search(t).collect()}
    served_rows = quantized_range_search(spark, sf_small).collect()
    served = {r.vec_id for r in served_rows}
    # quantization error is small at SQ8: near-total overlap on the fixture
    assert len(served & exact) >= int(0.9 * len(exact)), (
        sorted(served), sorted(exact),
    )

    # brute-force reconstructed distances over the FULL corpus: every
    # served vector must carry exactly that distance, and every non-served
    # in-radius vector must be explained by cell pruning
    q = _query_vectors(t, [0])
    recon = F.transform("codes", lambda c: c * F.col("scale"))
    brute = {
        r.vec_id: r.dist
        for r in sq8_project(t["embeddings"])
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            (F.round(V.euclidean_distance(recon, F.col("query_vec")), 3) + F.lit(0.0)).alias("dist"),
        )
        .filter(F.col("dist") <= RANGE_RADIUS)
        .collect()
    }
    for r in served_rows:
        assert abs(brute[r.vec_id] - r.dist) < 1e-9
    assert served <= set(brute)


def test_quantized_knn_join_matches_per_query_v24(spark, sf_small):
    """v26 (batch kNN over the SQ8 clustered store) must serve, for every
    query in the batch, exactly what the single-query tier (v24) serves
    with the same probe budget — the batch form changes amortization
    (one scan, DPP instead of a literal filter), never results."""
    from ai_optimizer_spark.plans.bucketing import (
        quantized_clustered_topk,
        quantized_ivf_knn_join,
    )

    batch = quantized_ivf_knn_join(spark, sf_small, n_queries=20, k=3, n_probe=4)
    by_query = {}
    for r in batch.collect():
        by_query.setdefault(r.query_id, []).append((r.vec_id, r.cid, r.cos_sim))
    assert set(by_query) == set(range(20))
    for qid in (0, 7, 19):
        single = [
            (r.vec_id, r.cid, r.cos_sim)
            for r in quantized_clustered_topk(
                spark, sf_small, query_id=qid, k=3, n_probe=4
            ).collect()
        ]
        assert sorted(by_query[qid]) == sorted(single), qid


def test_cell_split_repair_tightens_hot_cells(spark, sf_small):
    """t15 semantic contract: (a) exactly the hot cells (occupancy >
    1.1x average under the fixture threshold) are repaired, each into at
    most two sub-cells whose counts sum to the original occupancy; (b)
    the split TIGHTENS geometry — every sub-cell radius is <= the
    original cell's radius around seed A (the repair must never make a
    cell worse); (c) re-running the repair on unchanged data is
    deterministic (bit-equal output)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.refresh import cell_split_repair
    from ai_optimizer_spark.operators.similarity import _ivf_assign
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    out = cell_split_repair(t).collect()
    assert out == cell_split_repair(t).collect()  # deterministic

    cents, assigned = _ivf_assign(t["embeddings"], 16)
    occ = {r.cid: r.n_vecs for r in assigned.groupBy("cid").count().withColumnRenamed("count", "n_vecs").collect()}
    n_total = sum(occ.values())
    hot = {c for c, n in occ.items() if n * 10 * 16 > 11 * n_total}
    assert hot, "fixture threshold must fire"
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cid, []).append(r)
    assert set(by_cell) == hot
    for cid, subs in by_cell.items():
        assert 1 <= len(subs) <= 2
        assert sum(s.n_vecs for s in subs) == occ[cid]
    # radius around seed A of the ORIGINAL hot cell, for the tightening bound
    seed_a = {
        r.cid: r.a_vec
        for r in assigned.filter(F.col("cid").isin(*hot))
        .groupBy("cid")
        .agg(F.min("vec_id").alias("a_vec"))
        .collect()
    }
    emb_by_id = {
        r.vec_id: r.embedding
        for r in t["embeddings"]
        .filter(F.col("vec_id").isin(*{v for v in seed_a.values()}))
        .collect()
    }
    import math

    for cid in hot:
        a_emb = emb_by_id[seed_a[cid]]
        members = assigned.filter(F.col("cid") == cid).collect()
        r_orig = max(
            math.sqrt(sum((x - y) ** 2 for x, y in zip(m.embedding, a_emb)))
            for m in members
        )
        for s in by_cell[cid]:
            assert s.r_sub <= round(r_orig, 3) + 1e-9, (cid, s.r_sub, r_orig)


def test_residual_sq8_halfstep_contract_on_fixture(spark, sf_small):
    """v27's quantizer contract, asserted where the clustered-corpus win
    does NOT apply (the uniform fixture): every vector's reconstruction
    error is bounded by the half-step rscale/2 per dimension — round() to
    the nearest code can never be further than half a grid cell."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import (
        _ivf_assign,
        residual_sq8_project,
    )
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    cents, assigned = _ivf_assign(t["embeddings"], 16)
    res = residual_sq8_project(assigned, cents)
    bad = (
        res.withColumn(
            "xr",
            F.zip_with("ce", "rcodes", lambda c, rc: c + rc * F.col("rscale")),
        )
        .withColumn(
            "err",
            F.array_max(
                F.zip_with(
                    "embedding", "xr", lambda x, h: F.abs(x.cast("double") - h)
                )
            ),
        )
        .filter(F.col("err") > F.col("rscale") / 2 + 1e-9)
        .count()
    )
    assert bad == 0


def test_residual_sq8_beats_direct_on_clustered_corpus(spark):
    """The regime v27 exists for: when cells are tight relative to vector
    magnitudes (every real embedding corpus), the residual grid step is
    much finer than the direct SQ8 step, so mean reconstruction error
    drops. Constructed corpus: 8 well-separated centroids, members
    perturbed by ±2% of the centroid magnitude."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.similarity import (
        _ivf_assign,
        residual_sq8_project,
        sq8_project,
    )

    d, per_cell = 16, 12
    rows = []
    vid = 8  # vec_id 0..7 are the centroid seeds (=their own cells)
    for c in range(8):
        base = [((c * 7 + j * 3) % 11) - 5.0 for j in range(d)]
        rows.append((c, [float(x) for x in base], c))
        for m in range(per_cell):
            pert = [
                b + 0.02 * (((c + m + j) % 5) - 2) for j, b in enumerate(base)
            ]
            rows.append((vid, [float(x) for x in pert], c))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cents, assigned = _ivf_assign(emb, 8)

    def mean_err(df, recon_col):
        return (
            df.withColumn(
                "err",
                F.array_max(
                    F.zip_with(
                        "embedding",
                        recon_col,
                        lambda x, h: F.abs(x.cast("double") - h),
                    )
                ),
            )
            .agg(F.avg("err"))
            .collect()[0][0]
        )

    res = residual_sq8_project(assigned, cents).withColumn(
        "xr", F.zip_with("ce", "rcodes", lambda c, rc: c + rc * F.col("rscale"))
    )
    direct = sq8_project(emb).withColumn(
        "xh", F.zip_with("codes", "embedding", lambda c, x: c * F.col("scale"))
    )
    res_err = mean_err(res, "xr")
    dir_err = mean_err(direct, "xh")
    # tight cells: the residual grid is ~25x finer (0.04 spread vs ~10
    # magnitude); require at least a 5x improvement to keep the assert
    # robust to fixture tweaks
    assert res_err * 5 < dir_err, (res_err, dir_err)


def test_store_delete_repair_invariants(spark, sf_small):
    """t16's contract: counts reconcile per cell, untouched cells are
    ABSENT (never read, never rewritten), and the re-tightened radius
    never exceeds the pre-delete radius (deleting members can only
    shrink a max)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.refresh import store_delete_repair
    from ai_optimizer_spark.operators.similarity import _ivf_assign
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    out = {r.cid: r for r in store_delete_repair(t).collect()}
    assert out, "fixture delete set must touch at least one cell"
    for r in out.values():
        assert r.n_before == r.n_deleted + r.n_after
        assert r.n_deleted >= 1  # affected cells only
        assert (r.n_after == 0) == (r.r_cell_after == 0.0)

    cents, assigned = _ivf_assign(t["embeddings"], 16)
    before = {
        r.cid: (r.n, r.r)
        for r in assigned.join(
            F.broadcast(cents.select(F.col("cid").alias("c2"), "ce")),
            F.col("cid") == F.col("c2"),
        )
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(V.euclidean_distance("embedding", "ce")), 9).alias(
                "r"
            ),
        )
        .collect()
    }
    deleted_cells = {
        r.cid
        for r in assigned.filter(F.col("vec_id") % 41 == 5)
        .select("cid")
        .distinct()
        .collect()
    }
    assert set(out) == deleted_cells  # absence of untouched cells
    for cid, r in out.items():
        assert r.n_before == before[cid][0]
        assert r.r_cell_after <= before[cid][1] + 1e-12


def test_cell_merge_repair_invariants(spark, sf_small):
    """t17's contract: every reported cell is genuinely cold (exact
    integer threshold), the target is the NEAREST non-cold centroid,
    counts reconcile (n_merged = n_moved + target occupancy), and the
    post-merge radius can only grow vs the target's own radius."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.refresh import cell_merge_repair
    from ai_optimizer_spark.operators.similarity import _ivf_assign
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    out = cell_merge_repair(t).collect()
    assert out

    cents, assigned = _ivf_assign(t["embeddings"], 16)
    occ = {r.cid: r.n for r in assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(occ.values())
    cold = {c for c, n in occ.items() if n * 10 * 16 < 9 * total}
    ce = {r.cid: r.ce for r in cents.collect()}

    import math

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    radii = {
        r.cid: r.r
        for r in assigned.join(
            F.broadcast(cents.select(F.col("cid").alias("c2"), "ce")),
            F.col("cid") == F.col("c2"),
        )
        .groupBy("cid")
        .agg(F.round(F.max(V.euclidean_distance("embedding", "ce")), 9).alias("r"))
        .collect()
    }
    assert {r.cold_cid for r in out} == cold
    for r in out:
        assert r.tgt_cid not in cold and r.tgt_cid != r.cold_cid
        best = min(
            (c for c in occ if c not in cold),
            key=lambda c: (dist(ce[r.cold_cid], ce[c]), c),
        )
        assert r.tgt_cid == best
        assert r.n_moved == occ[r.cold_cid]
        assert r.n_merged == r.n_moved + occ[r.tgt_cid]
        assert r.r_target_after >= radii[r.tgt_cid] - 1e-12


def test_random_projection_topk_recall_and_single_evaluation(spark, sf_small):
    """v29: the JL-prefiltered serve must recover the exact top-k at the
    measured config (p=24, C=400 gives recall 1.0 on all fixture
    scales), and the projection chains must be evaluated ONCE on the
    corpus path — the let-binding keeps CollapseProject from inlining
    the 24 depth-64 chains into the three cosine consumers (the v22
    trap; uncontrolled it also overflows Janino at this width)."""
    from ai_optimizer_spark.operators.similarity import (
        RP_DIM,
        RP_EMB_DIM,
        cosine_topk,
        random_projection_topk,
    )
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    exact = {r.vec_id for r in cosine_topk(t).collect()}
    served_df = random_projection_topk(t)
    served = {r.vec_id for r in served_df.collect()}
    assert len(exact & served) / len(exact) >= 0.75

    plan = served_df._jdf.queryExecution().optimizedPlan().toString()
    # corpus-side chains once + query-side (1-row) chains once
    assert plan.count("element_at") <= 2 * RP_DIM * RP_EMB_DIM


def test_rp_stored_topk_equals_computed_form(spark, sf_small):
    """v29b: the stored-projection serve must produce exactly the v29
    served set (the physical-form-twin contract that lets them share an
    oracle), the store must hold the projection and NOT the raw
    embedding, and the exact re-rank must reach the source scan as a
    pushed IN filter over the bounded candidate list."""
    from ai_optimizer_spark.operators.similarity import random_projection_topk
    from ai_optimizer_spark.plans.bucketing import ensure_rp_store, rp_stored_topk
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    computed = {tuple(r) for r in random_projection_topk(t).collect()}
    stored_df = rp_stored_topk(spark, sf_small)
    stored = {tuple(r) for r in stored_df.collect()}
    assert stored == computed

    store_cols = spark.table(ensure_rp_store(spark, sf_small)).columns
    assert "pv" in store_cols and "embedding" not in store_cols

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        stored_df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "In(vec_id" in plan
    assert "Exchange hashpartitioning" not in plan


def test_choose_serving_tier_routes_by_dup_bound(spark):
    """v30's router (SCALE.md finding 14): near-dup-heavy corpora must
    serve from the residual grid; clean corpora take the direct-SQ8 read.
    The fixture corpus is duplicate-heavy by construction (d17 bound
    ~0.09-0.11 at every sf), so it must route 'residual'; a constructed
    collision-free profile must route 'direct'."""
    from ai_optimizer_spark.operators.dedup import corpus_dup_profile
    from ai_optimizer_spark.plans.bucketing import choose_serving_tier

    t = load_tables(spark, "/root/testdata/sf0.001")
    prof = corpus_dup_profile(t)
    n = t["documents"].count()
    assert choose_serving_tier(prof, n) == "residual"
    # same profile against a huge corpus: the bound dilutes below threshold
    assert choose_serving_tier(prof, n_docs=1_000_000) == "direct"
    # collision-free profile (no bucket >= 2): bound 0 -> direct
    clean = spark.createDataFrame(
        [(0, 10, 0, 0, 0, 1)],
        "band int, n_buckets long, n_colliding_buckets long, "
        "candidate_pairs long, colliding_docs long, max_bucket_n long",
    )
    assert choose_serving_tier(clean, n_docs=10) == "direct"


def test_auto_tier_topk_plan_keeps_pruned_serve(spark):
    """v30: whatever the route, the serving read keeps the stored-layout
    contract — literal partition pruning on cid, no shuffle exchange,
    TakeOrderedAndProject (the profile collect happens at build time and
    never appears in the served plan)."""
    import io
    from contextlib import redirect_stdout

    from ai_optimizer_spark.plans.bucketing import auto_tier_topk

    df = auto_tier_topk(spark, "/root/testdata/sf0.001")
    assert [r.tier for r in df.collect()] == ["residual"] * 8
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= plan.count(
        "ReusedExchange"
    )
