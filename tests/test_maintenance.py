"""Applied store maintenance on the published store (plans/published.py):
the split → merge → erase cycle as snapshot transitions, with the
snapshot invariants asserted after every step and an INDEPENDENT numpy
oracle for the served read (VERDICT r7 task 7).

The t15/t17/t16b operators are analysis forms verified against DuckDB;
these tests verify the APPLY side: new cell files, cells leaving the
manifest, seed and radius updates, and that serving stays correct across
writes. Each test works on its own root under a tmp dir.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import ai_optimizer_spark.plans.published as P
from ai_optimizer_spark.tables import load_tables

SF = "/root/testdata/sf0.001"
K = 16


def _tmp_roots(monkeypatch, base):
    monkeypatch.setattr(
        P, "_pub_root", lambda _s, sf_dir, _k, label=None: os.path.join(
            str(base), os.path.basename(sf_dir), label or "shared")
    )


@pytest.fixture()
def roots(tmp_path, monkeypatch):
    _tmp_roots(monkeypatch, tmp_path)


@pytest.fixture(scope="module")
def chain(spark, tmp_path_factory):
    """One root shared by the module's chain: the tests apply the cycle IN
    ORDER (split → merge → erase → replay) and each asserts the
    invariants — order matters and pytest runs module tests in file
    order."""
    with pytest.MonkeyPatch.context() as mp:
        _tmp_roots(mp, tmp_path_factory.mktemp("chain"))
        P.publish_init(spark, SF, K, label="chain")
        yield "chain"


def _assert_invariants(spark, label, stage: str):
    inv = P.published_invariants(spark, SF, K, label=label)
    for key, val in inv.items():
        if isinstance(val, bool):
            assert val, f"{stage}: invariant {key} violated: {inv}"
    return inv


def _store_rows(spark, label, epoch=None):
    _ep, rows = P.resolve_snapshot(spark, SF, K, epoch, label=label)
    root = P._pub_root(spark, SF, K, label)
    return P._read_cells(spark, root, [p for *_x, p in rows])


def _canon_store(spark, label, epoch=None):
    return sorted(
        (int(r.vec_id), int(r.label), float(r.scale),
         tuple(int(c) for c in r.codes), int(r.cid))
        for r in _store_rows(spark, label, epoch).collect()
    )


def _canon_geom(spark, label, epoch=None):
    _ep, rows = P.resolve_snapshot(spark, SF, K, epoch, label=label)
    return sorted((c, s, r) for c, s, r, _n, _p in rows)


def _serve(spark, label, query_id=0, k=8, n_probe=4):
    return [
        (int(r.vec_id), float(r.cos_sim))
        for r in P.published_served_topk(
            spark, SF, query_id, k, n_probe, K, label=label
        ).collect()
    ]


def _numpy_serve(spark, label, query_id: int, k: int, n_probe: int):
    """Independent oracle for published_served_topk: numpy recomputation
    of the probe list and the SQ8 top-k off the CURRENT snapshot's files
    and manifest (reads the same state, shares no Spark expression
    code)."""
    store = _store_rows(spark, label).toPandas()
    _ep, rows = P.resolve_snapshot(spark, SF, K, label=label)
    emb = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    qv = emb[query_id]
    # probe: n_probe nearest cells by euclidean distance to the seed vector
    ranked = sorted(
        (float(np.linalg.norm(emb[s] - qv)), c) for c, s, _r, _n, _p in rows
    )
    probe = {c for _d, c in ranked[:n_probe]}
    cand = store[store["cid"].astype(int).isin(probe)]
    out = []
    for r in cand.itertuples(index=False):
        if int(r.vec_id) == query_id:
            continue
        c = np.asarray(r.codes, dtype=np.float64)
        denom = np.linalg.norm(c) * np.linalg.norm(qv)
        sim = round(float(c @ qv / denom), 3) if denom > 0 else -1.0
        out.append((int(r.vec_id), sim))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def test_fresh_generation_invariants_and_serve(spark, chain):
    inv = _assert_invariants(spark, chain, "fresh")
    assert inv["n_cells"] == K and inv["epoch"] == 1
    assert _serve(spark, chain) == _numpy_serve(spark, chain, 0, 8, 4)


@pytest.mark.slow
def test_apply_splits_preserves_invariants(spark, chain):
    before = _assert_invariants(spark, chain, "before-split")
    rep = P.publish_repair(spark, SF, K, 11, 10, 0, 1, balanced=False, label=chain)
    assert rep["split"]["hot_cells"] > 0, "fixture must have hot cells at 1.1x avg"
    inv = _assert_invariants(spark, chain, "after-split")
    assert inv["epoch"] == before["epoch"] + 1
    assert inv["n_cells"] == K + len(rep["split"]["new_cids"])
    assert inv["n_rows"] == before["n_rows"]  # splits move rows, never drop them
    assert _serve(spark, chain) == _numpy_serve(spark, chain, 0, 8, 4)


@pytest.mark.slow
def test_apply_merges_preserves_invariants(spark, chain):
    before = _assert_invariants(spark, chain, "before-merge")
    rep = P.publish_repair(spark, SF, K, 100, 1, 9, 10, label=chain)
    assert rep["merge"]["cold_cells"] > 0, "post-split store must have cold cells"
    inv = _assert_invariants(spark, chain, "after-merge")
    assert inv["n_cells"] == before["n_cells"] - rep["merge"]["cold_cells"]
    assert inv["n_rows"] == before["n_rows"]  # merges move rows, never drop them
    assert _serve(spark, chain) == _numpy_serve(spark, chain, 0, 8, 4)


@pytest.mark.slow
def test_apply_delete_wave_preserves_invariants(spark, chain):
    before = _assert_invariants(spark, chain, "before-delete")
    rep = P.publish_delete(spark, SF, K, del_mod=41, del_rem=5, label=chain)
    assert rep["deleted"] > 0
    inv = _assert_invariants(spark, chain, "after-delete")
    assert inv["n_rows"] == before["n_rows"] - rep["deleted"]
    # the erased rows are really gone from the store
    assert _store_rows(spark, chain).filter(F.col("vec_id") % 41 == 5).count() == 0
    assert _serve(spark, chain) == _numpy_serve(spark, chain, 0, 8, 4)


@pytest.mark.slow
def test_delete_wave_idempotent(spark, chain):
    """Replaying the same erasure wave is a no-op: nothing left to delete,
    no epoch committed, invariants intact.

    slow: the replay leg of the chain (splits → merges → delete wave →
    THIS) — it asserts on state the preceding slow-marked wave test
    creates, so the chain runs together in the slow tier."""
    eps = P.published_epochs(spark, SF, K, label=chain)
    rep = P.publish_delete(spark, SF, K, del_mod=41, del_rem=5, label=chain)
    assert rep == {"affected_cells": 0, "deleted": 0, "epoch": max(eps)}
    assert P.published_epochs(spark, SF, K, label=chain) == eps
    _assert_invariants(spark, chain, "after-replay")


def test_geom_serve_plan_shape(spark, chain):
    """The published read keeps v24's plan contract: the scan lists
    exactly the n_probe probed cells' files, no shuffle exchange,
    TakeOrderedAndProject."""
    df = P.published_served_topk(spark, SF, 0, 8, 4, K, label=chain)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    assert len([f for f in df.inputFiles() if "/cells/" in f]) == 4


@pytest.mark.slow
def test_repair_plan_cycle_converges(spark, roots):
    """The plan-driven loop (verdict r8 task 3): cycle 1 executes the
    decision table's rows with BALANCED splits; cycle 2 must decide
    all-keep (fixed-target thresholds + median-cut halves — nearest-seed
    splits ping-ponged: 42 -> 38+4 -> merge-back -> 42). Invariants,
    including seeds_are_members, hold after the cycle."""
    P.publish_init(spark, SF, K, label="cycle")
    c1 = P.publish_repair(spark, SF, K, 13, 10, 1, 4, label="cycle")
    assert c1["plan"]["split"] >= 1, "fixture must flag a hot cell at 1.3x"
    assert c1["epoch"] == 2
    _assert_invariants(spark, "cycle", "cycle-1")
    c2 = P.publish_repair(spark, SF, K, 13, 10, 1, 4, label="cycle")
    assert c2["plan"]["split"] == 0 and c2["plan"]["merge"] == 0, (
        f"cycle 2 must decide all-keep, got {c2['plan']}"
    )
    assert c2["epoch"] == 2


def test_balanced_split_halves_are_even(spark):
    """split_member_assign_balanced cuts exactly ceil(n/2)/floor(n/2) and
    keeps t15's seeds (A = min member, B = farthest from A, both members
    of their own halves)."""
    from ai_optimizer_spark.operators.refresh import (
        split_member_assign,
        split_member_assign_balanced,
    )

    emb = load_tables(spark, SF)["embeddings"]
    members = emb.select(
        "vec_id", (F.col("vec_id") % 2).alias("cid"), "embedding"
    )
    bal = split_member_assign_balanced(members).toPandas()
    near = split_member_assign(members).toPandas()
    # same seed pairs as the nearest-seed assigner
    assert set(map(tuple, bal[["cid", "a_vec", "b_vec"]].values.tolist())) == set(
        map(tuple, near[["cid", "a_vec", "b_vec"]].values.tolist())
    )
    for cid, grp in bal.groupby("cid"):
        n = len(grp)
        n_a = (grp["seed_vec_id"] == grp["a_vec"]).sum()
        assert n_a == (n + 1) // 2, f"cell {cid}: {n_a} of {n} in A-half"
        a_vec = int(grp["a_vec"].iloc[0])
        b_vec = int(grp["b_vec"].iloc[0])
        assert int(grp.loc[grp.vec_id == a_vec, "seed_vec_id"].iloc[0]) == a_vec
        assert int(grp.loc[grp.vec_id == b_vec, "seed_vec_id"].iloc[0]) == b_vec


@pytest.mark.slow
def test_delete_wave_reseeds_erased_seed(spark, roots):
    """Erasing a manifest seed re-seeds the cell with its min surviving
    member: the snapshot never references an erased id (verdict r8
    task 4 — the right-to-be-forgotten gap)."""
    P.publish_init(spark, SF, K, label="seed")
    _ep, rows = P.resolve_snapshot(spark, SF, K, label="seed")
    seed = rows[0][1]  # cid 0's seed
    mod = sum(n for *_x, n, _p in rows) + 17  # > max vec_id: hits exactly `seed`
    rep = P.publish_delete(spark, SF, K, del_mod=mod, del_rem=seed, label="seed")
    assert rep["deleted"] == 1
    assert rep["reseeded_cells"] == [rows[0][0]], "the erased id was a seed"
    _ep, after = P.resolve_snapshot(spark, SF, K, label="seed")
    assert seed not in {s for _c, s, *_x in after}
    _assert_invariants(spark, "seed", "after seed erasure")


def test_live_repair_plan_broadcast_only(spark, chain):
    """Plan guard: deciding is k-row work off the manifest — broadcast
    joins only; no sort-merge join may appear in the decision table's
    plan."""
    df = P.published_repair_plan(spark, SF, K, label=chain)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


@pytest.mark.slow
def test_ingest_roundtrip_store_equality(spark, roots):
    """Erase-wave → re-ingest reproduces the ENTIRE store and geometry
    bit-for-bit (not just the served top-k t24 hash-verifies): the final
    epoch's (vec_id, label, scale, codes, cid) multiset and manifest
    geometry equal epoch 1's."""
    P.publish_init(spark, SF, K, label="rt")
    rep = P.publish_delete(spark, SF, K, del_mod=41, del_rem=23, label="rt")
    assert rep["deleted"] > 0 and not rep.get("reseeded_cells")
    emb = load_tables(spark, SF)["embeddings"]
    batch = emb.filter(F.col("vec_id") % 41 == 23).select(
        "vec_id", "label", "embedding"
    )
    ing = P.publish_ingest(spark, SF, K, batch=batch, label="rt")
    assert ing["ingested"] == rep["deleted"] and ing["epoch"] == 3
    assert _canon_store(spark, "rt") == _canon_store(spark, "rt", epoch=1)
    assert _canon_geom(spark, "rt") == _canon_geom(spark, "rt", epoch=1)
    _assert_invariants(spark, "rt", "after round trip")


@pytest.mark.slow
def test_ingest_into_repaired_geometry(spark, roots):
    """Ingest into a store whose geometry has DIVERGED from the build
    convention: erase a wave, split hot cells (new cells, new seeds),
    then re-ingest the erased rows — assignment must follow the LIVE
    seeds (an erased row can land in a post-split cell that did not
    exist when it was first built), radii extend monotonically, and the
    full invariant suite stays green."""
    P.publish_init(spark, SF, K, label="grown")
    rep = P.publish_delete(spark, SF, K, del_mod=43, del_rem=7, label="grown")
    assert rep["deleted"] > 0
    P.publish_repair(spark, SF, K, 11, 10, 0, 1, balanced=False, label="grown")
    n0 = _assert_invariants(spark, "grown", "after split")
    assert n0["n_cells"] > K  # geometry really diverged from the build
    emb = load_tables(spark, SF)["embeddings"]
    batch = emb.filter(F.col("vec_id") % 43 == 7).select(
        "vec_id", "label", "embedding"
    )
    ing = P.publish_ingest(spark, SF, K, batch=batch, label="grown")
    assert ing["ingested"] == rep["deleted"]
    inv = _assert_invariants(spark, "grown", "after ingest")
    assert inv["n_rows"] == n0["n_rows"] + rep["deleted"]
    # served read still agrees with the independent numpy oracle
    assert _serve(spark, "grown") == _numpy_serve(spark, "grown", 0, 8, 4)


def test_balanced_split_seed_b_survives_max_distance_ties(spark):
    """ADVICE r9 (medium): when > floor(n/2) members tie at the max
    distance (duplicate embeddings), the median-cut window must still
    rank seed B into the B-half — otherwise publish_repair writes a
    B-cell whose manifest seed is not a member. Cell fixture: vec 1 at
    the origin (seed A), vecs 2-6 all identical at distance 1 (seed B =
    vec 2, the min-id member of a 5-way tie spanning the cut)."""
    from ai_optimizer_spark.operators.refresh import split_member_assign_balanced

    members = spark.createDataFrame(
        [(1, 0, [0.0, 0.0])] + [(v, 0, [1.0, 0.0]) for v in range(2, 7)],
        "vec_id long, cid long, embedding array<double>",
    )
    bal = {
        int(r.vec_id): (int(r.a_vec), int(r.b_vec), int(r.seed_vec_id))
        for r in split_member_assign_balanced(members).collect()
    }
    a_vec, b_vec = bal[1][0], bal[1][1]
    assert (a_vec, b_vec) == (1, 2)
    # seed B lands in its own half despite ranking first by the old
    # (dist_a, vec_id) order
    assert bal[b_vec][2] == b_vec
    # halves are still exactly ceil(n/2)/floor(n/2)
    n_a = sum(1 for _, _, s in bal.values() if s == a_vec)
    assert n_a == 3 and len(bal) - n_a == 3
    # seed A keeps rank 1 (it is the only dist-0 member here)
    assert bal[a_vec][2] == a_vec


def test_ingest_rejects_duplicate_ids(spark, roots):
    """publish_ingest enforces the 'ids must be new' contract — a batch
    reusing a live vec_id raises instead of silently appending a
    duplicate id (possibly into a different cell), and commits nothing."""
    P.publish_init(spark, SF, K, label="dup")
    emb = load_tables(spark, SF)["embeddings"]
    batch = emb.filter(F.col("vec_id") % 41 == 23).select(
        "vec_id", "label", "embedding"
    )
    with pytest.raises(ValueError, match="already live"):
        P.publish_ingest(spark, SF, K, batch=batch, label="dup")
    assert P.published_epochs(spark, SF, K, label="dup") == [1]
