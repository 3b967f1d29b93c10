"""Vector-store pipeline tests: populate/merge idempotence, stale-chunk
delete, search semantics, catalog discovery, multi-store fan-out — the
engine's write path (SURVEY.md §3.2)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from ai_optimizer_spark.embedding import HashEmbedder, embed_column
from ai_optimizer_spark.plans.vector_store import (
    VectorStoreCatalog,
    chunks_from_documents,
    delete_stale_chunks,
    multi_store_search,
    populate_store,
    search_store,
)
from ai_optimizer_spark.tables import load_tables


@pytest.fixture()
def catalog(tmp_path):
    return VectorStoreCatalog(str(tmp_path / "stores"))


def _docs(spark, sf):
    return load_tables(spark, sf)["documents"].limit(50)


def test_embedder_is_deterministic_and_normalized(spark):
    e = HashEmbedder()
    a, b = e.embed_query("hello world join"), e.embed_query("hello world join")
    assert a == b
    assert abs(sum(x * x for x in a) - 1.0) < 1e-5
    # spark-side UDF matches the driver-side client
    df = spark.createDataFrame([("hello world join",)], "text string")
    udf_vec = df.select(embed_column("text").alias("e")).collect()[0].e
    assert [round(x, 5) for x in udf_vec] == [round(x, 5) for x in a]


def test_populate_then_merge_is_idempotent(spark, sf_small, catalog):
    chunks = chunks_from_documents(_docs(spark, sf_small))
    first = populate_store(spark, catalog, "store_a", chunks)
    n1 = first.count()
    again = populate_store(spark, catalog, "store_a", chunks)  # anti-join: no dup ids
    assert again.count() == n1
    assert first.columns == ["id", "text", "metadata", "embedding"]


def test_delete_stale_then_reinsert(spark, sf_small, catalog):
    chunks = chunks_from_documents(_docs(spark, sf_small))
    store = populate_store(spark, catalog, "store_b", chunks)
    total = store.count()
    doc0 = "doc_0"
    n_doc0 = store.filter(F.col("metadata")["filename"] == doc0).count()
    assert n_doc0 > 0
    kept = delete_stale_chunks(spark, catalog, "store_b", [doc0])
    assert kept.count() == total - n_doc0
    restored = populate_store(spark, catalog, "store_b", chunks)
    assert restored.count() == total


def test_search_matches_bruteforce(spark, sf_small, catalog):
    chunks = chunks_from_documents(_docs(spark, sf_small))
    store = populate_store(spark, catalog, "store_c", chunks)
    hits = search_store(spark, catalog, "store_c", "table join filter", top_k=5).collect()
    assert len(hits) == 5
    assert all(hits[i].similarity >= hits[i + 1].similarity for i in range(4))
    # threshold semantics: only rows >= threshold survive (P1)
    thr = hits[2].similarity
    filtered = search_store(
        spark, catalog, "store_c", "table join filter", top_k=100, score_threshold=thr
    ).collect()
    assert all(h.similarity >= thr for h in filtered)


def test_multi_store_dedup_keeps_best(spark, sf_small, catalog):
    docs = _docs(spark, sf_small)
    chunks = chunks_from_documents(docs)
    populate_store(spark, catalog, "s1", chunks)
    populate_store(spark, catalog, "s2", chunks)  # identical stores → all dup texts
    merged = multi_store_search(spark, catalog, ["s1", "s2"], "table join filter", top_k=8)
    rows = merged.collect()
    texts = [r.text for r in rows]
    assert len(texts) == len(set(texts))  # keep-max dedup collapsed duplicates
    assert len(rows) == 8


def test_multi_store_cross_store_tie_rows(spark, catalog):
    """The same text scores the same in three stores: keep-max dedup
    keeps the first store name (not the first store searched), and equal
    scores across stores order by id. Rows recorded from the chained
    DataFrame form of the search."""
    def docs(rows):
        return chunks_from_documents(
            spark.createDataFrame(rows, "doc_id long, text string, source string")
        )

    same = "spark joins shuffle the larger side of a table"
    populate_store(spark, catalog, "zeta", docs(
        [(1, same, "z"), (3, "broadcast a small table to every executor", "z")]))
    populate_store(spark, catalog, "mid", docs([(5, same, "m")]))
    populate_store(spark, catalog, "alpha", docs(
        [(2, same, "a"), (4, "window functions rank rows inside each partition", "a")]))
    rows = multi_store_search(
        spark, catalog, ["zeta", "mid", "alpha"], "join the larger table", top_k=8
    ).collect()
    assert [tuple(r) for r in rows] == [
        ("2_1", same, 0.75, "alpha"),
        ("3_1", "broadcast a small table to every executor", 0.594, "zeta"),
        ("4_1", "window functions rank rows inside each partition", 0.594, "alpha"),
    ]


def test_catalog_discovery(spark, sf_small, catalog):
    chunks = chunks_from_documents(_docs(spark, sf_small))
    populate_store(spark, catalog, "alpha", chunks, distance_metric="DOT")
    populate_store(spark, catalog, "beta", chunks)
    found = {c["name"]: c for c in catalog.discover()}
    assert set(found) == {"alpha", "beta"}
    assert found["alpha"]["distance_metric"] == "DOT"
    catalog.drop("alpha")
    assert [c["name"] for c in catalog.discover()] == ["beta"]


def test_clustered_store_partition_prunes(spark, sf_small, tmp_path):
    """The bucket-clustered layout must (a) physically partition-prune the
    scan — visible as PartitionFilters on the parquet relation — and
    (b) return exactly the same hits as brute-force search restricted to
    the query's bucket."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ai_optimizer_spark.embedding import HashEmbedder
    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.plans.vector_store import (
        VectorStoreCatalog,
        chunks_from_documents,
        populate_store,
        search_store,
    )
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"].limit(120)
    catalog = VectorStoreCatalog(str(tmp_path / "stores"))
    populate_store(
        spark, catalog, "clustered", chunks_from_documents(docs),
        cluster_by_bucket=True, bucket_bits=4,
    )
    query = "table join filter fast"
    pruned = search_store(spark, catalog, "clustered", query, top_k=5)

    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan

    # semantics: equal to scoring the full store filtered to the bucket
    q_emb = HashEmbedder().embed_query(query)
    q_bucket = sum((1 << i) for i in range(4) if q_emb[i] >= 0)
    full = spark.read.parquet(catalog.data_path("clustered"))
    qvec = F.array(*[F.lit(float(x)) for x in q_emb])
    sim = F.round(
        F.lit(1.0) - (F.lit(1.0) - V.cosine_similarity(F.col("embedding"), qvec)) / F.lit(2.0), 3
    ) + F.lit(0.0)
    want = (
        full.filter(F.col("bucket") == q_bucket)
        .select("id", "text", sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc("id"))
        .limit(5)
    )
    got = {(r.id, r.text, r.similarity) for r in pruned.collect()}
    expected = {(r.id, r.text, r.similarity) for r in want.collect()}
    assert got == expected and len(got) > 0


def test_refresh_store_incremental(spark, sf_small, catalog):
    """T1 end-to-end: only changed/new files are re-chunked+re-embedded;
    unchanged files keep their rows; a no-change refresh is a no-op."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import refresh_store

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    store1 = refresh_store(spark, catalog, "store_r", docs)
    n1 = store1.count()
    assert n1 > 0

    # no changes → identical store
    store2 = refresh_store(spark, catalog, "store_r", docs)
    assert store2.count() == n1
    ids1 = {r.id for r in store1.select("id").collect()}
    assert {r.id for r in store2.select("id").collect()} == ids1

    # snapshot an untouched doc's chunk ids BEFORE the swap invalidates
    # store1's file listing (the atomic publish replaces the directory)
    before = {r.id for r in store1.filter(F.col("metadata")["filename"] == "doc_1").collect()}

    # modify doc 0, add doc 9999
    modified = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("completely new text for doc zero")).otherwise(
            F.col("text")
        ),
    )
    extra = spark.createDataFrame(
        [(9999, "brand new doc about merges and joins", "srcX")],
        "doc_id long, text string, source string",
    )
    store3 = refresh_store(spark, catalog, "store_r", modified.unionByName(extra))

    doc0 = store3.filter(F.col("metadata")["filename"] == "doc_0")
    assert doc0.count() == 1
    assert "completely new text" in doc0.first().text
    assert store3.filter(F.col("metadata")["filename"] == "doc_9999").count() == 1
    # an untouched doc keeps its exact chunk ids
    after = {r.id for r in store3.filter(F.col("metadata")["filename"] == "doc_1").collect()}
    assert before == after and before


def test_refresh_preserves_config_and_refreshes_unfingerprinted(spark, sf_small, catalog):
    """Regressions: (a) a refresh must not reset the store's registered
    metric/layout; (b) store rows without fingerprint metadata (direct
    populate) must be treated as modified, not silently unchanged."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import refresh_store

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    populate_store(
        spark, catalog, "store_cfg", chunks_from_documents(docs),
        distance_metric="EUCLIDEAN",
    )
    modified = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("edited text zero")).otherwise(F.col("text")),
    )
    store = refresh_store(spark, catalog, "store_cfg", modified)
    doc0 = store.filter(F.col("metadata")["filename"] == "doc_0")
    assert doc0.count() == 1 and "edited text zero" in doc0.first().text
    meta = next(c for c in catalog.discover() if c["name"] == "store_cfg")
    assert meta["distance_metric"] == "EUCLIDEAN"  # refresh didn't reset it


def test_refresh_remove_missing(spark, sf_small, catalog):
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import refresh_store

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    refresh_store(spark, catalog, "store_rm", docs)
    shrunk = docs.filter(F.col("doc_id") < 5)
    store = refresh_store(spark, catalog, "store_rm", shrunk, remove_missing=True)
    kept = {
        r.filename
        for r in store.select(F.col("metadata")["filename"].alias("filename"))
        .distinct()
        .collect()
    }
    assert kept == {f"doc_{i}" for i in range(5)}


def test_populate_idempotent_with_duplicate_texts(spark, catalog):
    """Deterministic dedup winner: duplicate texts must pick the same chunk
    id on every populate, keeping the id-keyed merge idempotent."""
    dup = spark.createDataFrame(
        [(3, "identical text body here", "s"), (7, "identical text body here", "s"),
         (9, "a different text", "s")],
        "doc_id long, text string, source string",
    )
    chunks = chunks_from_documents(dup)
    first = populate_store(spark, catalog, "store_dup", chunks)
    n1 = first.count()
    ids1 = {r.id for r in first.select("id").collect()}
    again = populate_store(spark, catalog, "store_dup", chunks)
    assert again.count() == n1
    assert {r.id for r in again.select("id").collect()} == ids1
    assert "3_1" in ids1 and "7_1" not in ids1  # lowest doc id wins


def test_file_bucketed_delete_is_partition_scoped(spark, sf_small, catalog):
    """file_buckets layout: delete_stale_chunks rewrites ONLY the fbucket
    partitions holding stale files — every other partition's part-files
    are byte-for-byte untouched (the O(delta) maintenance story)."""
    import os

    from ai_optimizer_spark.plans.vector_store import _file_bucket

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    chunks = chunks_from_documents(docs)
    store = populate_store(spark, catalog, "store_fb", chunks, file_buckets=8)
    total = store.count()
    data_path = catalog.data_path("store_fb")
    parts = sorted(d for d in os.listdir(data_path) if d.startswith("fbucket="))
    assert len(parts) > 1  # actually partitioned

    b0 = spark.range(1).select(_file_bucket(F.lit("doc_0"), 8).alias("b")).first().b

    def snapshot():
        out = {}
        for d in parts:
            if d == f"fbucket={b0}":
                continue
            pdir = os.path.join(data_path, d)
            for f in sorted(os.listdir(pdir)):
                p = os.path.join(pdir, f)
                out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = snapshot()
    n_doc0 = store.filter(F.col("metadata")["filename"] == "doc_0").count()
    assert n_doc0 > 0
    kept = delete_stale_chunks(spark, catalog, "store_fb", ["doc_0"])
    assert kept.count() == total - n_doc0
    assert kept.filter(F.col("metadata")["filename"] == "doc_0").count() == 0
    assert snapshot() == before  # untouched partitions byte-stable


def test_file_bucketed_refresh_appends_only_changed(spark, sf_small, catalog):
    """Refresh on a file-bucketed store: unchanged files keep their rows
    and their partitions are not rewritten; the changed file's chunks are
    replaced via partition-scoped delete + append."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.vector_store import refresh_store

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    store1 = refresh_store(spark, catalog, "store_fb2", docs, file_buckets=8)
    n1 = store1.count()
    before = {
        r.id for r in store1.filter(F.col("metadata")["filename"] == "doc_1").collect()
    }

    modified = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.lit("fresh text for doc zero")).otherwise(
            F.col("text")
        ),
    )
    store2 = refresh_store(spark, catalog, "store_fb2", modified)
    doc0 = store2.filter(F.col("metadata")["filename"] == "doc_0")
    assert doc0.count() == 1 and "fresh text" in doc0.first().text
    after = {
        r.id for r in store2.filter(F.col("metadata")["filename"] == "doc_1").collect()
    }
    assert before == after and before
    # search still works over the partitioned layout
    hits = search_store(spark, catalog, "store_fb2", "fresh text", top_k=3).collect()
    assert len(hits) == 3


def test_partition_swap_recovers_from_mid_publish_crash(spark, sf_small, catalog):
    """ADVICE r4: the partition publish is rename-only (live → trash,
    tmp → live) with `_recover_swaps` repairing a crash caught between the
    two renames. Simulate the worst-case crash state — a bucket moved to
    trash but its replacement never renamed in — and assert the next write
    restores it with zero data loss."""
    import os
    import shutil

    from ai_optimizer_spark.plans.vector_store import _recover_swaps

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    chunks = chunks_from_documents(docs)
    store = populate_store(spark, catalog, "store_crash", chunks, file_buckets=8)
    total = store.count()
    data_path = catalog.data_path("store_crash")
    parts = sorted(d for d in os.listdir(data_path) if d.startswith("fbucket="))
    victim = parts[0]

    # crash state: victim bucket sits in trash, live dir missing, a stale
    # tmp staging dir lingers
    trash = f"{data_path}__trash_deadbeef"
    os.makedirs(trash)
    os.rename(os.path.join(data_path, victim), os.path.join(trash, victim))
    os.makedirs(f"{data_path}__tmp_deadbeef/{victim}")

    _recover_swaps(data_path)
    assert os.path.isdir(os.path.join(data_path, victim))  # restored
    assert not os.path.isdir(trash)
    assert not os.path.isdir(f"{data_path}__tmp_deadbeef")
    assert spark.read.parquet(data_path).count() == total  # nothing lost

    # crash state 2: swap completed but trash not yet cleared — recovery
    # must NOT clobber the (newer) live dir with the trash copy
    trash2 = f"{data_path}__trash_cafebabe"
    os.makedirs(os.path.join(trash2, victim))
    with open(os.path.join(trash2, victim, "old-part.parquet"), "w") as fh:
        fh.write("stale")
    _recover_swaps(data_path)
    assert not os.path.isdir(trash2)
    assert spark.read.parquet(data_path).count() == total

    # and a real end-to-end delete still works after recovery
    n_doc0 = store.filter(F.col("metadata")["filename"] == "doc_0").count()
    kept = delete_stale_chunks(spark, catalog, "store_crash", ["doc_0"])
    assert kept.count() == total - n_doc0


def test_recovery_never_resurrects_dropped_buckets(spark, sf_small, catalog):
    """Review finding: a bucket the committed job produced NO replacement
    for (every chunk stale) is an intentional delete — a crash during
    cleanup must NOT bring it back; and a bucket mid-replacement MUST come
    back. The __dropped_/__trash_ split encodes that intent."""
    import os

    from ai_optimizer_spark.plans.vector_store import _recover_swaps

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    chunks = chunks_from_documents(docs)
    store = populate_store(spark, catalog, "store_drop", chunks, file_buckets=8)
    total = store.count()
    data_path = catalog.data_path("store_drop")
    parts = sorted(d for d in os.listdir(data_path) if d.startswith("fbucket="))
    victim = parts[0]
    victim_rows = spark.read.parquet(os.path.join(data_path, victim)).count()

    # crash state: victim sits in a __dropped_ dir (cleanup died), live gone
    dropped = f"{data_path}__dropped_deadbeef"
    os.makedirs(dropped)
    os.rename(os.path.join(data_path, victim), os.path.join(dropped, victim))
    _recover_swaps(data_path)
    assert not os.path.isdir(os.path.join(data_path, victim))  # stays deleted
    assert not os.path.isdir(dropped)
    assert spark.read.parquet(data_path).count() == total - victim_rows


def test_whole_store_publish_survives_mid_rename_crash(spark, sf_small, catalog):
    """Review finding: the non-bucketed rewrite used rmtree-then-rename —
    a crash in between left the tmp dir as the ONLY copy, and the old
    recovery DELETED it. Now: crash state (data_path missing, complete tmp
    alongside) is finished forward by promoting the tmp."""
    import os
    import shutil

    from ai_optimizer_spark.plans.vector_store import _recover_swaps

    docs = _docs(spark, sf_small).select("doc_id", "text", "source")
    chunks = chunks_from_documents(docs)
    store = populate_store(spark, catalog, "store_whole", chunks)
    total = store.count()
    data_path = catalog.data_path("store_whole")

    # crash state: publish renamed live away but died before tmp → live
    os.rename(data_path, f"{data_path}__old_deadbeef")
    shutil.copytree(f"{data_path}__old_deadbeef", f"{data_path}__tmp_deadbeef")
    _recover_swaps(data_path)
    assert os.path.isdir(data_path)
    assert spark.read.parquet(data_path).count() == total
    assert not os.path.exists(f"{data_path}__tmp_deadbeef")
    assert not os.path.exists(f"{data_path}__old_deadbeef")

    # and an end-to-end delete on the recovered store still works
    kept = delete_stale_chunks(spark, catalog, "store_whole", ["doc_0"])
    assert kept.count() < total
