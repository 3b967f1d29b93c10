"""Serving requests without metadata jobs, and the state they reuse.

A request reads only what it needs: a store is read with its declared
schema, the NL2SQL catalog check is a lookup, a committed snapshot's rows
and the IVF cell assignment are built once per session. Each guard counts
the Spark jobs a call starts through a job group and `statusTracker`. The
freshness tests pin the other half: reused state is never served stale
after a refresh, a cache clear, a new epoch or a rewritten input table.
The session tier itself (`cache.held`) is pinned last: stamps, owners,
concurrent callers, and that no other module keeps a memo of its own.
"""

from __future__ import annotations

import ast
import gc
import os
import shutil
import threading
import time
import uuid
import weakref
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

import ai_optimizer_spark
import ai_optimizer_spark.operators.similarity as S
import ai_optimizer_spark.plans.published as P
from ai_optimizer_spark.cache import active_shared_count, held, release_shared_caches
from ai_optimizer_spark.plans import nl2sql
from ai_optimizer_spark.plans.bucketing import clustered_ivf_topk
from ai_optimizer_spark.plans.flow import VecsearchFlow, VecsearchSettings
from ai_optimizer_spark.plans.vector_store import (
    VectorStoreCatalog,
    chunks_from_documents,
    populate_store,
    refresh_store,
    search_store,
)
from ai_optimizer_spark.tables import TABLE_NAMES, load_tables, register_views

K = 16


@contextmanager
def jobs_started(spark):
    """Yields a list that holds, on exit, the number of Spark jobs the
    block started."""
    sc = spark.sparkContext
    group = f"guard-{uuid.uuid4().hex[:8]}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


DOCS = [
    (1, "spark joins shuffle the larger side of a table", "a"),
    (2, "broadcast a small table to every executor", "a"),
    (3, "window functions rank rows inside each partition", "b"),
    (4, "streaming queries keep state between micro batches", "b"),
]


# ---------------------------------------------------------------------------
# job guards
# ---------------------------------------------------------------------------


def test_search_store_build_starts_no_job(spark, tmp_path):
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    populate_store(spark, catalog, "kb", chunks_from_documents(_docs(spark, DOCS)),
                   file_buckets=4)
    with jobs_started(spark) as n:
        hits = search_store(spark, catalog, "kb", "broadcast a small table", top_k=3)
    assert n == [0]
    assert hits.first().id == "2_1"


def test_generate_sql_starts_no_job(spark, sf_small):
    register_views(spark, sf_small)
    questions = ["revenue by nation", "count orders by priority",
                 "top customers", "something else"]
    with jobs_started(spark) as n:
        sqls = [nl2sql.generate_sql(spark, q) for q in questions]
    assert n == [0]
    assert [s == nl2sql._FALLBACK for s in sqls] == [False, False, False, True]


@pytest.fixture()
def pub_root(tmp_path, monkeypatch):
    root = str(tmp_path / "pub")
    monkeypatch.setattr(P, "_pub_root", lambda *_a, **_k: root)
    return root


def test_second_snapshot_resolve_starts_no_job(spark, sf_small, pub_root):
    P.publish_init(spark, sf_small, K)
    ep, rows = P.resolve_snapshot(spark, sf_small, K, epoch=1)
    with jobs_started(spark) as n:
        again = P.resolve_snapshot(spark, sf_small, K, epoch=1)
    assert n == [0]
    assert again == (ep, rows) and len(rows) == K


def _cache_entry(spark, df):
    return spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)


def _cached_and_loaded(spark, df) -> bool:
    """`df` is cached and every partition of it is in the block manager."""
    cached = _cache_entry(spark, df)
    if not cached.isDefined():
        return False
    return cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


@pytest.fixture()
def assign_calls(monkeypatch):
    calls = []
    orig = S._ivf_assign

    def counting(emb, n_centroids):
        calls.append(n_centroids)
        return orig(emb, n_centroids)

    monkeypatch.setattr(S, "_ivf_assign", counting)
    return calls


def _ivf_rows(t, query_id=3):
    return [tuple(r) for r in S.ivf_topk(t, query_id=query_id).collect()]


def test_second_ivf_topk_runs_no_assignment(spark, sf_small, assign_calls):
    spark.catalog.clearCache()  # start from no held assignment
    t = load_tables(spark, sf_small)
    first = _ivf_rows(t)
    assert assign_calls == [K]
    assigned = S._ivf_model(t["embeddings"], K)
    # every partition of the assignment is in the block manager, so the
    # next request reads it instead of running the MapInPandas kernel
    assert _cached_and_loaded(spark, assigned)
    with jobs_started(spark) as n:
        df = S.ivf_topk(load_tables(spark, sf_small), query_id=3)
    assert n == [1]  # the query-vector read: no centroid or model collect
    assert [tuple(r) for r in df.collect()] == first
    assert assign_calls == [K]
    assert S._ivf_model(t["embeddings"], K) is assigned


def _serve(spark, sf, reader, query_id=3, n_probe=4):
    """One request of an ANN reader over `sf`."""
    if reader == "ivf_topk":
        return S.ivf_topk(load_tables(spark, sf), query_id=query_id, n_probe=n_probe)
    if reader == "clustered_ivf_topk":
        return clustered_ivf_topk(spark, sf, query_id=query_id, n_probe=n_probe)
    return P.published_served_topk(spark, sf, query_id=query_id, n_probe=n_probe,
                                   n_centroids=K)


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("reader", ["ivf_topk", "clustered_ivf_topk",
                                    "published_served_topk"])
def test_second_ann_request_starts_two_jobs(spark, sf_small, pub_root, reader):
    P.publish_init(spark, sf_small, K)
    first = _rows(_serve(spark, sf_small, reader))  # builds the held state
    with jobs_started(spark) as built:
        df = _serve(spark, sf_small, reader)
    with jobs_started(spark) as ran:
        again = _rows(df)
    assert built == [1]  # the query-vector read: no model collect
    assert built[0] + ran[0] <= 2
    assert again == first


def test_published_plan_attaches_cid_without_join(spark, sf_small, pub_root):
    P.publish_init(spark, sf_small, K)
    df = _serve(spark, sf_small, "published_served_topk")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "fname" not in plan
    assert "input_file_name" in plan


# ---------------------------------------------------------------------------
# freshness
# ---------------------------------------------------------------------------


def test_refresh_between_flow_requests_serves_new_rows(spark, tmp_path):
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    refresh_store(spark, catalog, "table_docs", _docs(spark, DOCS))
    flow = VecsearchFlow(spark, catalog)
    s = VecsearchSettings(enable_rephrase=False, enable_grading=False)
    removed_text = DOCS[1][1]
    assert flow.run("c", removed_text, s).first().id == "2_1"

    new_text = "table quokka narwhal axolotl pangolin marmot"
    current = [(1, new_text, "a"), DOCS[2], DOCS[3]]  # doc 1 edited, doc 2 gone
    refresh_store(spark, catalog, "table_docs", _docs(spark, current),
                  remove_missing=True)
    hits = flow.run("c", new_text, s).collect()
    assert flow.cache.builds == 1  # the compiled flow was reused
    assert hits[0].id == "1_1" and hits[0].text == new_text
    again = flow.run("c", removed_text, s).collect()
    assert again and not any(h.id.startswith("2_") for h in hits + again)


def test_ivf_memo_rebuilds_after_cache_drops(spark, sf_small, assign_calls):
    spark.catalog.clearCache()
    release_shared_caches()
    t = load_tables(spark, sf_small)
    want = _ivf_rows(t, query_id=5)
    assert active_shared_count() == 0  # the held assignment is not registered
    spark.catalog.clearCache()
    assert _ivf_rows(t, query_id=5) == want
    assigned = S._ivf_model(t["embeddings"], K)
    release_shared_caches()
    assert _ivf_rows(t, query_id=5) == want
    assert assign_calls == [K] * 2  # built, then rebuilt after clearCache() only
    assert S._ivf_model(t["embeddings"], K) is assigned
    assert _cached_and_loaded(spark, assigned)


def _sf_copy(sf_small, tmp_path):
    """An sf dir whose embeddings.parquet is a private copy (so it can be
    rewritten) and whose other tables link to `sf_small`."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in TABLE_NAMES:
        src = f"{sf_small}/{name}.parquet"
        if name == "embeddings":
            shutil.copyfile(src, sf / f"{name}.parquet")
            os.chmod(sf / f"{name}.parquet", 0o644)
        else:
            os.symlink(src, sf / f"{name}.parquet")
    return sf


def _shift_labels(sf):
    """Rewrite embeddings.parquet with the same vectors, labels moved by 100."""
    path = str(sf / "embeddings.parquet")
    tbl = pq.read_table(path)
    i = tbl.schema.get_field_index("label")
    pq.write_table(tbl.set_column(i, "label", pc.add(tbl.column("label"), 100)), path)


def test_replaced_assignment_is_unpersisted(spark, sf_small, tmp_path):
    sf = _sf_copy(sf_small, tmp_path)
    t = load_tables(spark, str(sf))
    _ivf_rows(t)
    old = S._ivf_model(t["embeddings"], K)
    assert _cached_and_loaded(spark, old)
    _shift_labels(sf)
    load_tables(spark, str(sf))  # the session now holds the new handle
    assert _cache_entry(spark, old).isDefined()  # the old handle is still live
    del t
    gc.collect()
    assert not _cache_entry(spark, old).isDefined()


def test_new_epoch_is_served_from_its_own_rows(spark, sf_small, pub_root):
    P.publish_init(spark, sf_small, K)
    _ep, rows = P.resolve_snapshot(spark, sf_small, K)
    served = P.published_served_topk(spark, sf_small, query_id=0, n_centroids=K).collect()
    dropped = int(served[0].cid)
    # epoch 2 publishes the same cells minus the cell epoch 1 ranked first
    P._commit_snapshot(spark, pub_root, 2, [r for r in rows if r[0] != dropped])
    ep2, rows2 = P.resolve_snapshot(spark, sf_small, K)
    assert ep2 == 2 and len(rows2) == K - 1 and dropped not in {r[0] for r in rows2}
    assert P.resolve_snapshot(spark, sf_small, K, epoch=1)[1] == rows
    new = P.published_served_topk(spark, sf_small, query_id=0, n_centroids=K).collect()
    assert new and dropped not in {int(r.cid) for r in new}
    pinned = P.published_served_topk(spark, sf_small, query_id=0, n_centroids=K, epoch=1)
    assert pinned.collect() == served


def test_rewritten_table_gets_fresh_handle(spark, sf_small, tmp_path):
    sf = _sf_copy(sf_small, tmp_path)
    t1 = load_tables(spark, str(sf))
    before = _ivf_rows(t1)

    # same vectors (so the same centroids and cells), labels moved by 100
    _shift_labels(sf)

    t2 = load_tables(spark, str(sf))
    assert t2["embeddings"] is not t1["embeddings"]
    assert t2["orders"] is t1["orders"]
    after = _ivf_rows(t2)
    assert [(v, lab + 100, c, s) for v, lab, c, s in before] == after


def test_cell_model_follows_a_committed_split(spark, sf_small, pub_root):
    def serve(session, epoch=None):
        # k covers every member of the probed cells, so rows show the probe;
        # query 3 probes cell 5 at epoch 1 and the new cell 16 at epoch 2
        return _rows(P.published_served_topk(session, sf_small, query_id=3, k=500,
                                             n_centroids=K, epoch=epoch))

    P.publish_init(spark, sf_small, K)
    before = serve(spark)  # epoch 1 model held
    rep = P.publish_repair(spark, sf_small, K, 11, 10, 0, 1, balanced=False)
    assert rep["epoch"] == 2 and rep["plan"]["split"] > 0
    after = serve(spark)
    assert {r[2] for r in before} == {3, 0, 9, 5}
    assert {r[2] for r in after} == {3, 0, 9, 16}
    assert after == serve(spark.newSession())  # a cold session agrees
    assert serve(spark, epoch=1) == before


def test_cell_model_follows_rewritten_vectors(spark, sf_small, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in TABLE_NAMES:
        os.symlink(f"{sf_small}/{name}.parquet", sf / f"{name}.parquet")
    before = _rows(_serve(spark, str(sf), "ivf_topk"))  # models held
    old_emb = load_tables(spark, str(sf))["embeddings"]

    # new vectors (each moved by 1.0 along its first axis), so new
    # centroids, cells and cosines
    path = str(sf / "embeddings.parquet")
    tbl = pq.read_table(path)
    os.unlink(path)
    i = tbl.schema.get_field_index("embedding")
    moved = [None if v is None else [v[0] + 1.0] + v[1:]
             for v in tbl.column("embedding").to_pylist()]
    col = pa.array(moved, type=tbl.schema.field(i).type)
    pq.write_table(tbl.set_column(i, tbl.schema.field(i), col), path)

    after = _rows(_serve(spark, str(sf), "ivf_topk"))
    assert after != before
    assert after == _rows(_serve(spark.newSession(), str(sf), "ivf_topk"))
    seeds = S.build_seeds(K)
    old_model = S.cell_model(old_emb, seeds)
    new_model = S.cell_model(load_tables(spark, str(sf))["embeddings"], seeds)
    assert new_model[0][1][0] == pytest.approx(old_model[0][1][0] + 1.0)


@pytest.mark.parametrize("reader", ["ivf_topk", "clustered_ivf_topk",
                                    "published_served_topk"])
def test_ann_rows_survive_cache_drops_and_new_session(spark, sf_small, pub_root, reader):
    P.publish_init(spark, sf_small, K)
    want = _rows(_serve(spark, sf_small, reader))
    spark.catalog.clearCache()
    assert _rows(_serve(spark, sf_small, reader)) == want
    release_shared_caches()
    assert _rows(_serve(spark, sf_small, reader)) == want
    assert _rows(_serve(spark.newSession(), sf_small, reader)) == want


def test_empty_store_reads_as_empty(spark, tmp_path):
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    catalog.register("empty", {"distance_metric": "COSINE"})
    os.makedirs(catalog.data_path("empty"))
    assert search_store(spark, catalog, "empty", "any question").collect() == []


def test_flow_request_reads_catalog_once(spark, tmp_path, monkeypatch):
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    for j, name in enumerate(("table_docs", "stream_docs", "join_docs")):
        populate_store(spark, catalog, name,
                       chunks_from_documents(_docs(spark, [DOCS[j]])))
    reads = []
    orig = VectorStoreCatalog.discover

    def counting(self):
        reads.append(1)
        return orig(self)

    monkeypatch.setattr(VectorStoreCatalog, "discover", counting)
    flow = VecsearchFlow(spark, catalog)
    hits = flow.run("c", "table stream join", VecsearchSettings(enable_grading=False))
    assert len(reads) == 1
    assert {r.searched_table for r in hits.collect()} == {
        "table_docs", "stream_docs", "join_docs"}


# ---------------------------------------------------------------------------
# the session tier: cache.held
# ---------------------------------------------------------------------------


class _Owner:
    """A weak-referenceable stand-in for a session, context or handle."""


def test_held_rebuilds_when_the_stamp_changes():
    owner, builds = _Owner(), []

    def build():
        builds.append(1)
        return len(builds)

    assert held(owner, "k", build, stamp=(1, 10)) == 1
    assert held(owner, "k", build, stamp=(1, 10)) == 1
    assert held(owner, "k", build, stamp=(2, 10)) == 2
    assert held(owner, "j", build, stamp=(2, 10)) == 3  # each key is its own entry
    assert held(owner, "k", build, stamp=(2, 10)) == 2


def test_dropping_the_owner_drops_its_entries(spark):
    owner, value = _Owner(), _Owner()
    ref = weakref.ref(value)
    held(owner, "plain", lambda: value)
    df = spark.range(13).persist()
    df.count()
    assert held(owner, "persisted", lambda: df) is df
    del value
    gc.collect()
    assert ref() is not None and df.storageLevel != StorageLevel.NONE
    del owner
    gc.collect()
    assert ref() is None
    assert df.storageLevel == StorageLevel.NONE


def test_concurrent_callers_build_once():
    owner, builds = _Owner(), []
    gate = threading.Barrier(8)

    def build():
        builds.append(1)
        time.sleep(0.05)
        return object()

    def ask(_):
        gate.wait()
        return held(owner, "k", build)

    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(ask, range(8)))
    assert len(builds) == 1
    assert all(g is got[0] for g in got)


def test_cache_is_the_only_module_level_memo():
    pkg = Path(ai_optimizer_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "cache.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = getattr(node, "id", None) or getattr(node, "attr", None)
            if isinstance(node, ast.Global) or name == "WeakKeyDictionary":
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert found == [], "keep session state in cache.held, not a module memo"
