"""Published (snapshot-isolated) store: plans/published.py.

The verdict-r9 contract: a reader resolving mid-write serves either
fully-old or fully-new state (never mixed), a crash before commit is
invisible, and the writes reproduce the store states the in-place
table layer they replaced produced (pinned by digests recorded from it).
Each test monkeypatches `_pub_root` to a tmp dir so the shared
registry root is never touched, unless it says otherwise.
"""

from __future__ import annotations

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

import ai_optimizer_spark.plans.published as P
from ai_optimizer_spark.registry import QUERIES
from ai_optimizer_spark.tables import load_tables
from tests.test_serving_state import jobs_started

SF = "/root/testdata/sf0.001"
K = 16


@pytest.fixture()
def pub_root(tmp_path, monkeypatch):
    root = str(tmp_path / "pub")
    monkeypatch.setattr(P, "_pub_root", lambda *_a, **_k: root)
    return root


@pytest.fixture()
def label_roots(tmp_path, monkeypatch):
    """One tmp root per (scale, label)."""
    monkeypatch.setattr(
        P, "_pub_root", lambda _s, sf_dir, _k, label=None: os.path.join(
            str(tmp_path), os.path.basename(sf_dir), label or "shared")
    )
    return tmp_path


def _digest(lines) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _rows(df):
    return sorted(
        (int(r.vec_id), int(r.label), int(r.cid), float(r.cos_sim))
        for r in df.collect()
    )


def _store_multiset(spark, root, rows):
    df = P._read_cells(spark, root, [p for *_x, p in rows])
    return sorted(
        (int(r.vec_id), int(r.label), float(r.scale),
         tuple(int(c) for c in r.codes), int(r.cid))
        for r in df.collect()
    )


def test_init_matches_maintained_base_serve(spark, pub_root):
    """Epoch 1 is the build: the published serve equals v24's read of the
    untouched clustered store it was published from."""
    from ai_optimizer_spark.plans.bucketing import quantized_clustered_topk

    ep = P.publish_init(spark, SF, K)
    assert ep == 1
    for q in (0, 7, 123):
        got = _rows(P.published_served_topk(spark, SF, q, 8, 4, K))
        assert got == _rows(quantized_clustered_topk(spark, SF, q, 8, 4, K))
    inv = P.published_invariants(spark, SF, K)
    for key in ("paths_exist", "counts_match", "seeds_are_members", "radii_tight"):
        assert inv[key], inv


def test_reader_isolation_across_repair(spark, pub_root):
    """A reader pinned to epoch E keeps serving E's exact result after a
    repair, an erasure wave and an ingest each commit a later epoch; an
    unpinned reader resolves the complete new state. No mixed state is
    observable at any epoch."""
    P.publish_init(spark, SF, K)
    ep0, rows0 = P.resolve_snapshot(spark, SF, K)
    served = {ep0: _rows(P.published_served_topk(spark, SF, 0, 8, 4, K, epoch=ep0))}
    manifests = {ep0: rows0}
    rep = P.publish_repair(spark, SF, K, 13, 10, 1, 4)
    assert rep["epoch"] == ep0 + 1 and rep["plan"]["split"] >= 1
    served[rep["epoch"]] = _rows(P.published_served_topk(spark, SF, 0, 8, 4, K))
    manifests[rep["epoch"]] = P.resolve_snapshot(spark, SF, K)[1]
    # erase the query's current nearest neighbours, then ingest them back
    gone = served[rep["epoch"]][0][0]
    mod = sum(n for *_x, n, _p in rows0) + 17  # hits exactly `gone`
    dele = P.publish_delete(spark, SF, K, del_mod=mod, del_rem=gone)
    assert dele["deleted"] == 1 and dele["epoch"] == ep0 + 2
    served[dele["epoch"]] = _rows(P.published_served_topk(spark, SF, 0, 8, 4, K))
    assert gone not in {v for v, *_x in served[dele["epoch"]]}
    batch = load_tables(spark, SF)["embeddings"].filter(F.col("vec_id") == gone).select(
        "vec_id", "label", "embedding"
    )
    ing = P.publish_ingest(spark, SF, K, batch=batch)
    assert ing["ingested"] == 1 and ing["epoch"] == ep0 + 3
    # pinned readers: bit-identical to what each epoch served when current
    for ep, want in served.items():
        assert _rows(P.published_served_topk(spark, SF, 0, 8, 4, K, epoch=ep)) == want
    for ep, want in manifests.items():
        assert P.resolve_snapshot(spark, SF, K, epoch=ep)[1] == want
    # every epoch, old or new, audits green (fully-old or fully-new)
    for ep in P.published_epochs(spark, SF, K):
        inv = P.published_invariants(spark, SF, K, epoch=ep)
        for key in ("paths_exist", "counts_match", "no_empty_cells",
                    "seeds_are_members", "radii_tight"):
            assert inv[key], inv


def test_crash_before_commit_is_invisible(spark, pub_root, monkeypatch):
    """Kill the repair between staging cell files and committing the
    snapshot: readers still resolve the old epoch, serve correctly, and
    the sweeper reclaims the orphans; a subsequent repair succeeds."""
    P.publish_init(spark, SF, K)
    before = _rows(P.published_served_topk(spark, SF, 0, 8, 4, K))

    real_commit = P._commit_snapshot

    def boom(*a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(P, "_commit_snapshot", boom)
    with pytest.raises(RuntimeError, match="injected"):
        P.publish_repair(spark, SF, K, 13, 10, 1, 4)
    # reader view: nothing happened
    assert P.published_epochs(spark, SF, K) == [1]
    assert _rows(P.published_served_topk(spark, SF, 0, 8, 4, K)) == before
    # orphan cell files exist and are swept once old enough
    n_cells_before = len(P._listdir(spark, os.path.join(pub_root, "cells")))
    swept = P.sweep_published(spark, SF, K, keep_epochs=2, min_age_sec=0.0)
    assert swept["deleted_files"] > 0
    assert (
        len(P._listdir(spark, os.path.join(pub_root, "cells")))
        == n_cells_before - swept["deleted_files"]
    )
    # the repair completes normally afterwards
    monkeypatch.setattr(P, "_commit_snapshot", real_commit)
    rep = P.publish_repair(spark, SF, K, 13, 10, 1, 4)
    assert rep["epoch"] == 2
    inv = P.published_invariants(spark, SF, K)
    for key in ("paths_exist", "counts_match", "seeds_are_members", "radii_tight"):
        assert inv[key], inv


# sha256 of the sorted (vec_id, label, scale, codes, cid) store rows and
# of the sorted (cid, seed_vec_id, round-9 r_cell) geometry rows, recorded
# from the in-place table layer after the same writes on the same
# fixture (one repr per line).
RECORDED_STATE = {
    ("cycle13", "sf0.001"): (
        "e1275f232aef1fb84ee946d6fbc7bddd3496069049707ee750764bd242161f34",
        "2f81253172a78fdb8de429ffe2651670cb775517585666e8d04bcfe662ef90e0"),
    ("cycle3", "sf0.001"): (
        "1810d260f09f823a9eb64acd43397e809e6c6931eaf3153c7a056e2a4af1ba02",
        "7d8ddf8bb7cda4c1906f40f374538c400607ad7584ef743e267683e2fe747aa8"),
    ("delete41_5", "sf0.001"): (
        "160b9c0be331f9b952274687d0c2966da69525d86aba6b6b4041cfe313bb23d6",
        "a58ff9e1164aab044a5dbcc670c7744b31783c6362d637363d0abd1b3e698046"),
    ("erase_seed0", "sf0.001"): (
        "1f86945787e84d364efc069a3ddeecd0f51b6c8438d33bc5b197bb0da197776d",
        "c3ce984ded6a5d3e946a8c3d241cf2d065acaef47df6e8bf56723eb8d131b586"),
    ("del43_split_ingest", "sf0.001"): (
        "1e409b2ffe0ce475c6a7e167fd8d26371d353bf4c0c5ca64e0b57181cb2bc32b",
        "92e8a1996a61ef5341311b327dc9b3884daa1d814998f13d1955f97a843fbd67"),
    ("cycle13", "sf0.01"): (
        "fd12b8e04ffc87c877574e39658b6533a449ac1b76e33c5f32635a70eb55c2ae",
        "28617b09bc1716361b245b06dd8754aaef8fd1a37fef9bce79cb7a131fe7fabd"),
    ("cycle3", "sf0.01"): (
        "3da83ddfa2d942561933916f26b2d7a18d7aba4493d3b6633968ddc706beca24",
        "5f8236f2c2324a14c2e30f937237772c848167751513c6d1334b73511f3dccc5"),
    ("delete41_5", "sf0.01"): (
        "3239a1f0a800ebabfb38ee423449bc130455edb64de2d4ac9b2850ede8cc683e",
        "3719da968b22b08335f2c0710bf1ea8c442be2c09f731aae87c4ca9b721afd0b"),
    ("erase_seed0", "sf0.01"): (
        "c42736df7c35c9cd3f4b253dae4922d43feeca496fc7800e5776c3c0166d4a80",
        "d71ec1ea0d71209597a1f7c485d583113646217e029a93a466795591c4dea69a"),
    ("del43_split_ingest", "sf0.01"): (
        "fe8279ee58885c2419fce9e5079f58fa04f4e2c64bab59cf75c360ed37facd26",
        "d1054211497dd24750f1bb5e82c56d044eb557f7adb36c27b5a758b9c8f65475"),
}


def _apply_writes(spark, sf_dir, name) -> None:
    """The write sequence behind RECORDED_STATE[name] on a fresh root:
    a 13/10/1/4 or 3/1/2/3 plan-driven cycle; an erasure wave 41/5; the
    erasure of cell 0's seed alone; or erase 43/7 → nearest-seed 1.1x
    split → re-ingest of the erased rows."""
    P.publish_init(spark, sf_dir, K, label=name)
    if name == "cycle13":
        P.publish_repair(spark, sf_dir, K, 13, 10, 1, 4, label=name)
    elif name == "cycle3":
        P.publish_repair(spark, sf_dir, K, 3, 1, 2, 3, label=name)
    elif name == "delete41_5":
        P.publish_delete(spark, sf_dir, K, 41, 5, label=name)
    elif name == "erase_seed0":
        rows = P.resolve_snapshot(spark, sf_dir, K, label=name)[1]
        rep = P.publish_delete(
            spark, sf_dir, K, sum(n for *_x, n, _p in rows) + 17, 0, label=name
        )
        assert rep["reseeded_cells"] == [0], rep
    else:
        P.publish_delete(spark, sf_dir, K, 43, 7, label=name)
        P.publish_repair(spark, sf_dir, K, 11, 10, 0, 1, balanced=False, label=name)
        P.publish_ingest(
            spark, sf_dir, K, label=name,
            batch=load_tables(spark, sf_dir)["embeddings"]
            .filter(F.col("vec_id") % 43 == 7)
            .select("vec_id", "label", "embedding"),
        )


def _state_digests(spark, sf_dir, label) -> tuple[str, str]:
    _ep, rows = P.resolve_snapshot(spark, sf_dir, K, label=label)
    store = P._read_cells(
        spark, P._pub_root(spark, sf_dir, K, label), [p for *_x, p in rows]
    )
    return (
        _digest(repr(t) for t in sorted(
            (int(r.vec_id), int(r.label), float(r.scale),
             tuple(int(c) for c in r.codes), int(r.cid))
            for r in store.collect()
        )),
        _digest(repr(t) for t in sorted((c, s, round(r, 9)) for c, s, r, _n, _p in rows)),
    )


def test_published_equals_inplace_repair(spark, label_roots):
    """After one plan-driven 13/10/1/4 cycle the published store state
    equals the in-place layer's: the (vec_id, label, scale, codes, cid)
    multiset and the geometry (cid, seed, round-9 radius) match the
    digests recorded from it."""
    _apply_writes(spark, SF, "cycle13")
    assert _state_digests(spark, SF, "cycle13") == RECORDED_STATE[("cycle13", "sf0.001")]
    inv = P.published_invariants(spark, SF, K, label="cycle13")
    assert all(v for v in inv.values() if isinstance(v, bool)), inv


@pytest.mark.slow
@pytest.mark.parametrize("name,sf", sorted(RECORDED_STATE))
def test_writes_match_recorded_inplace_state(spark, label_roots, name, sf):
    """Repair, erasure (seed-aware) and ingest each reproduce the store
    state the in-place layer produced from the same writes."""
    sf_dir = f"/root/testdata/{sf}"
    _apply_writes(spark, sf_dir, name)
    assert _state_digests(spark, sf_dir, name) == RECORDED_STATE[(name, sf)]


# sha256 of the "|"-joined repr of each served row, in served order,
# recorded from the in-place layer's registered forms
RECORDED_ROWS = {
    ("t18_applied_split_serve", "sf0.001"):
        "af70dca19ad75af8a23ca32e13f3093fca4be4057248de0522bdf23457b9c3b8",
    ("t22_maintenance_cycle", "sf0.001"):
        "515facea1591539d6022290e59d4d7ceffb6002e8b0477ae19de9fb6f43bbfeb",
    ("t23_merge_cycle", "sf0.001"):
        "dd06f40d20f6e934823fe508e663f8ca1233974a90ac9a3ac52405ee2e0d8ef9",
    ("t24_store_roundtrip", "sf0.001"):
        "af70dca19ad75af8a23ca32e13f3093fca4be4057248de0522bdf23457b9c3b8",
    ("st24_streaming_maintenance", "sf0.001"):
        "af70dca19ad75af8a23ca32e13f3093fca4be4057248de0522bdf23457b9c3b8",
    ("t18_applied_split_serve", "sf0.01"):
        "ecd5aa85ad895de793f29db300fb21ccdaf3c30bbc7f54131fd0a2d348c936c5",
    ("t22_maintenance_cycle", "sf0.01"):
        "515facea1591539d6022290e59d4d7ceffb6002e8b0477ae19de9fb6f43bbfeb",
    ("t23_merge_cycle", "sf0.01"):
        "dd06f40d20f6e934823fe508e663f8ca1233974a90ac9a3ac52405ee2e0d8ef9",
    ("t24_store_roundtrip", "sf0.01"):
        "ecd5aa85ad895de793f29db300fb21ccdaf3c30bbc7f54131fd0a2d348c936c5",
    ("st24_streaming_maintenance", "sf0.01"):
        "ecd5aa85ad895de793f29db300fb21ccdaf3c30bbc7f54131fd0a2d348c936c5",
}
MAINTAINED = sorted({q for q, _sf in RECORDED_ROWS})


@pytest.mark.parametrize(
    "query,sf",
    [pytest.param(q, sf, marks=[pytest.mark.slow] if sf == "sf0.01" else [])
     for q, sf in sorted(RECORDED_ROWS)],
)
def test_query_rows_match_recorded(spark, query, sf):
    """The registered maintained-store queries, served from the shared
    warehouse roots, return the rows the in-place layer returned."""
    df = QUERIES[query](spark, f"/root/testdata/{sf}")
    got = _digest("|".join(repr(x) for x in r) for r in df.collect())
    assert got == RECORDED_ROWS[(query, sf)]


def test_maintained_queries_commit_once(spark, sf_small, label_roots):
    """t18, t22, t23, t24 and st24 build their published roots on the
    first call and only read on the second: no epoch is committed and no
    write job starts (a write stages files and commits a snapshot, two
    jobs at least; the one job allowed is the serve's query-vector read),
    and no in-place generation table or directory appears."""
    legacy = re.compile(r"^(embeddings_sq8_.+_g[0-9a-f]{8}|sq8_cell_geom_.+)")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

    def legacy_names():
        tables = {t.name for t in spark.catalog.listTables() if legacy.match(t.name)}
        dirs = {d for d in os.listdir(wh) if legacy.match(d)} if os.path.isdir(wh) else set()
        return tables | dirs

    def committed():
        return {
            root: P._listdir(spark, os.path.join(base, root, "geoms"))
            for base, dirs, _f in os.walk(label_roots) for root in dirs
            if os.path.isdir(os.path.join(base, root, "geoms"))
        }

    before = legacy_names()
    for q in MAINTAINED:
        QUERIES[q](spark, sf_small).collect()
    epochs = committed()
    assert len(epochs) == 5  # the shared root (t18) and four recipe roots
    for q in MAINTAINED:
        with jobs_started(spark) as n:
            df = QUERIES[q](spark, sf_small)
        assert n[0] <= 1, (q, n)
        df.collect()
    assert committed() == epochs
    assert legacy_names() <= before


def test_recipe_root_rebuilds_a_partial_root(spark, label_roots):
    """A recipe root whose final epoch is missing is rebuilt from
    scratch; one whose final epoch is committed is reused untouched. A
    write that changed nothing still advances the recipe to its final
    epoch, by carrying the last snapshot forward."""
    calls = []

    def build():
        calls.append(1)
        P.publish_repair(spark, SF, K, 100, 1, 0, 1, label="r")  # all-keep

    assert P.recipe_root(spark, SF, K, "r", 3, build) == 3
    assert P.published_epochs(spark, SF, K, label="r") == [1, 2, 3]
    rows = [P.resolve_snapshot(spark, SF, K, e, label="r")[1] for e in (1, 2, 3)]
    assert rows[0] == rows[1] == rows[2]
    assert P.recipe_root(spark, SF, K, "r", 3, build) == 3
    assert calls == [1]
    # a crash after epoch 2: the partial root is cleared and rebuilt
    root = P._pub_root(spark, SF, K, "r")
    os.remove(os.path.join(root, "geoms", "gen-000003.parquet"))
    assert P.recipe_root(spark, SF, K, "r", 3, build) == 3
    assert calls == [1, 1]
    assert P.published_epochs(spark, SF, K, label="r") == [1, 2, 3]


def test_all_keep_plan_publishes_nothing(spark, pub_root):
    """A cycle whose plan is all-keep commits no new epoch (publishing an
    identical snapshot would churn readers and the sweeper for nothing)."""
    P.publish_init(spark, SF, K)
    rep = P.publish_repair(spark, SF, K, 100, 1, 1, 100)  # unreachable bars
    assert rep["plan"]["split"] == 0 and rep["plan"]["merge"] == 0
    assert rep["epoch"] == 1
    assert P.published_epochs(spark, SF, K) == [1]


def test_serve_reads_exactly_probe_files(spark, pub_root):
    """File-level pruning: the serve plan's scan list is exactly the
    n_probe probed cells' files — nothing else is readable from the
    plan, and no sort-merge join appears (manifest joins broadcast)."""
    P.publish_init(spark, SF, K)
    df = P.published_served_topk(spark, SF, 0, 8, 4, K)
    files = df.inputFiles()
    cell_files = [f for f in files if "/cells/" in f]
    assert len(cell_files) == 4
    assert "SortMergeJoin" not in df._jdf.queryExecution().executedPlan().toString()


def test_sweep_retains_servable_epochs(spark, pub_root):
    """After three epochs with keep_epochs=2: the oldest snapshot is
    gone, the retained two still serve (all their files kept)."""
    P.publish_init(spark, SF, K)
    P.publish_repair(spark, SF, K, 13, 10, 1, 4)
    P.publish_repair(spark, SF, K, 3, 1, 2, 3)
    eps = P.published_epochs(spark, SF, K)
    assert len(eps) >= 2
    served = {
        ep: _rows(P.published_served_topk(spark, SF, 0, 8, 4, K, epoch=ep))
        for ep in eps[-2:]
    }
    swept = P.sweep_published(spark, SF, K, keep_epochs=2, min_age_sec=0.0)
    assert swept["dropped_epochs"] == eps[:-2]
    assert P.published_epochs(spark, SF, K) == eps[-2:]
    for ep, want in served.items():
        assert _rows(P.published_served_topk(spark, SF, 0, 8, 4, K, epoch=ep)) == want
        inv = P.published_invariants(spark, SF, K, epoch=ep)
        assert inv["paths_exist"], inv
