"""Vector-store build pipeline + catalog — SURVEY.md §3.2 / §2.1-S11,S13.

The reference's store build (embed/vector_store.py:122-296): create temp
table → exact-dedup chunks → batch-embed+insert → DELETE stale rows for
modified files → anti-join INSERT into the real table → drop temp → index;
store metadata lives in `GENAI: {json}` table comments discovered via
all_tab_comments (database/registry.py:29-77).

Spark-first shape:

    chunks DF → dropDuplicates(text) → embed (pandas_udf) → write temp dir
    → anti-join against existing store on id → append atomically (write new
    + swap) → catalog entry (JSON sidecar ≙ table properties)

On a real lakehouse the merge is a Delta/Iceberg MERGE and the catalog is
TBLPROPERTIES; on plain parquet (this environment) the same observable
semantics are write-temp + union + atomic directory swap — SURVEY.md §7.4-4.
The store table schema matches the reference's: id / text / metadata /
embedding (vector_store.py:47-88).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import held
from ..embedding import embed_column
from ..functions import text as T
from .nl2sql import validate_identifier

STORE_SCHEMA = "id string, text string, metadata map<string,string>, embedding array<float>"


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read a store directory with its declared schema. Spark still
    discovers the `fbucket`/`bucket` partition column from the directory
    names, but no read starts a schema-inference job (a footer-reading
    Spark job per read without it), and a directory with no data files
    reads as an empty store instead of raising UNABLE_TO_INFER_SCHEMA."""
    return spark.read.schema(STORE_SCHEMA).parquet(path)


def _store_meta(metas: list[dict], name: str) -> dict:
    meta = next((c for c in metas if c["name"] == name), None)
    if meta is None:
        raise KeyError(f"unknown vector store: {name!r} (not in catalog)")
    return meta


def _file_bucket(col, n_buckets: int):
    """Filename → stable bucket id in [0, n_buckets). Used as a Hive
    partition column so per-file maintenance (stale-chunk deletion on
    refresh) rewrites only the partitions that contain affected files —
    the 100-TB answer to the reference's row-level
    DELETE ... WHERE JSON_VALUE(metadata,'$.filename') IN (...)
    (embed/vector_store.py:239-245)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class VectorStoreCatalog:
    """File-backed store catalog: one JSON entry per store (alias, model,
    chunk params, distance metric) — the portable analog of `GENAI:` table
    comments / TBLPROPERTIES."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def data_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def register(self, name: str, config: dict) -> None:
        validate_identifier(name)
        with open(self._meta_path(name), "w", encoding="utf-8") as fh:
            json.dump({"name": name, **config}, fh)

    def discover(self) -> list[dict]:
        """S13: scan the catalog — every registered store with its config
        (registry.py:29-77 parses GENAI: comments the same way)."""
        out = []
        for fn in sorted(os.listdir(self.root)):
            if fn.endswith(".json"):
                with open(os.path.join(self.root, fn), encoding="utf-8") as fh:
                    out.append(json.load(fh))
        return out

    def drop(self, name: str) -> None:
        validate_identifier(name)
        for path in (self._meta_path(name), self.data_path(name)):
            if os.path.isfile(path):
                os.remove(path)
            elif os.path.isdir(path):
                shutil.rmtree(path)


def chunks_from_documents(
    docs: DataFrame, chunk_size: int = 200, overlap: int = 40
) -> DataFrame:
    """documents → chunk rows with the reference chunker + chunk-id
    synthesis and a metadata map (filename ≙ source, start_index —
    embed/document.py:113-131)."""
    chunked = T.chunk_text(
        docs.select("doc_id", "text", "source"), "text", "doc_id", chunk_size, overlap
    ).join(docs.select("doc_id", "source"), "doc_id")
    return chunked.select(
        F.col("chunk_id").alias("id"),
        F.col("chunk_text").alias("text"),
        F.create_map(
            F.lit("source"), F.col("source"),
            F.lit("filename"), F.concat(F.lit("doc_"), F.col("doc_id")),
            F.lit("start_index"), F.col("start_index").cast("string"),
        ).alias("metadata"),
    )


def populate_store(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    name: str,
    chunks: DataFrame,
    distance_metric: str | None = None,
    cluster_by_bucket: bool | None = None,
    bucket_bits: int | None = None,
    file_buckets: int | None = None,
) -> DataFrame:
    """S11+J2+D1+D3: dedup → anti-join → embed only NEW rows → merge →
    atomic publish.

    Exact dedup (deterministic min-id winner) happens before embedding, and
    the anti-join against the existing store happens BEFORE the embedding
    UDF too — re-populating an unchanged corpus embeds nothing, which is
    the reference's whole reason for the dedup+merge order
    (vector_store.py:112-118, 250-257). Publish is write-new-directory +
    rename so readers never see a half-written store (embed/staging.py:
    55-117). Config params left as None inherit the store's existing
    catalog entry — a refresh can't silently reset the metric or layout.

    `cluster_by_bucket` is the 100 TB layout (SURVEY.md §7.4-1): rows are
    written `partitionBy(bucket)` where bucket = sign-LSH of the embedding,
    so a bucketed search prunes ~(2^bits - 1)/2^bits of the scan as Hive
    partition pruning — the Spark analog of the reference's ANN index
    (HNSW/IVF per store, embed/vector_store.py:235-237).

    `file_buckets` is the MAINTENANCE layout: rows are written
    `partitionBy(fbucket)` where fbucket = hash(filename) % file_buckets,
    so an incremental refresh appends new rows into their buckets and
    `delete_stale_chunks` rewrites only the buckets containing changed
    files — the rest of a 100-TB store is never touched. Mutually
    exclusive with `cluster_by_bucket` (one physical sort order per
    table; pick search pruning or maintenance locality per store)."""
    from pyspark.sql import Window

    from ..functions import vector as V

    validate_identifier(name)
    existing_meta = next((c for c in catalog.discover() if c["name"] == name), {})
    if distance_metric is None:
        distance_metric = existing_meta.get("distance_metric", "COSINE")
    if cluster_by_bucket is None:
        cluster_by_bucket = bool(existing_meta.get("clustered", False))
    if bucket_bits is None:
        bucket_bits = int(existing_meta.get("bucket_bits") or 8)
    if file_buckets is None:
        file_buckets = existing_meta.get("file_buckets")
    if file_buckets and cluster_by_bucket:
        raise ValueError(
            "file_buckets and cluster_by_bucket are mutually exclusive layouts"
        )

    # deterministic exact dedup: lowest id wins per text (stable across
    # runs, unlike dropDuplicates), so the id-keyed merge stays idempotent
    w = Window.partitionBy("text").orderBy(F.asc("id"))
    deduped = (
        chunks.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    data_path = catalog.data_path(name)
    _recover_swaps(data_path)
    if os.path.exists(data_path):
        existing = read_store(spark, data_path).select(
            "id", "text", "metadata", "embedding"
        )
        to_embed = deduped.join(existing.select("id"), "id", "left_anti")
    else:
        existing = None
        to_embed = deduped

    embedded = to_embed.withColumn("embedding", embed_column("text")).select(
        "id", "text", "metadata", "embedding"
    )

    if file_buckets and existing is not None:
        # partition-scoped merge: the anti-join above already guarantees id
        # disjointness, so new rows APPEND as fresh part-files inside their
        # fbucket partitions — nothing of the existing store is read back
        # or rewritten (the only merge strategy that survives a 100-TB
        # store; a full rewrite-and-swap is O(store), this is O(delta)).
        # Publish semantics (documented tradeoff, ADVICE r4): the part-files
        # surface at Spark's job commit — a crash BEFORE commit leaves only
        # _temporary staging (cleared by _recover_swaps-adjacent cleanup /
        # Spark itself), never half-visible rows; readers across partitions
        # may observe the delta appear bucket-by-bucket at commit, the same
        # per-partition consistency contract as delete_stale_chunks.
        embedded.withColumn(
            "fbucket", _file_bucket(F.col("metadata")["filename"], file_buckets)
        ).write.mode("append").partitionBy("fbucket").parquet(data_path)
    else:
        merged = existing.unionByName(embedded) if existing is not None else embedded
        tmp_path = f"{data_path}__tmp_{uuid.uuid4().hex[:8]}"
        writer = merged.write.mode("overwrite")
        if cluster_by_bucket:
            merged = merged.withColumn("bucket", V.sign_bucket("embedding", bucket_bits))
            writer = merged.write.mode("overwrite").partitionBy("bucket")
        elif file_buckets:
            merged = merged.withColumn(
                "fbucket", _file_bucket(F.col("metadata")["filename"], file_buckets)
            )
            writer = merged.write.mode("overwrite").partitionBy("fbucket")
        writer.parquet(tmp_path)
        _publish_dir(data_path, tmp_path)

    catalog.register(
        name,
        {
            "distance_metric": distance_metric,
            "embed_model": "hash64",
            "dim": 64,
            "clustered": cluster_by_bucket,
            "bucket_bits": bucket_bits if cluster_by_bucket else None,
            "file_buckets": int(file_buckets) if file_buckets else None,
        },
    )
    return read_store(spark, data_path)


def _swap_partitions(data_path: str, tmp_path: str, parts: list[str]) -> None:
    """Publish rewritten partition dirs with the smallest possible unsafe
    window (ADVICE r4: the previous loop rmtree'd the live dir BEFORE
    renaming the replacement in — a crash between the two lost the bucket).

    Protocol: every rewritten partition was already FULLY written into
    `tmp_path` by a committed Spark job before this runs; publishing is
    then per-partition `rename(live → trash); rename(tmp → live)` — two
    metadata-only renames (microseconds) instead of an O(files) delete —
    followed by one trash cleanup after ALL partitions are swapped.

    Crash contract (documented tradeoff, not full atomicity — that needs a
    manifest/version pointer à la Delta/Iceberg, out of scope for a directory
    store): a crash can leave the store mid-publish — some partitions new,
    some old (readers see a consistent PER-PARTITION view; fbucket
    partitions are independent by construction since a file's chunks live
    in exactly one bucket). `_recover_swaps` on the next write restores any
    bucket caught between its two renames from trash, so no data is ever
    lost; re-running the refresh converges the remaining buckets.

    Intent separation (review finding): a partition the committed job
    produced NO replacement for was deleted ON PURPOSE (all its chunks
    were stale) — it goes to a `__dropped_` dir that recovery only ever
    clears, never restores; only partitions awaiting a replacement go to
    `__trash_`, the restorable class. Without the split, a crash during
    trash cleanup would resurrect intentionally-deleted chunks."""
    tag = uuid.uuid4().hex[:8]
    trash = f"{data_path}__trash_{tag}"
    dropped = f"{data_path}__dropped_{tag}"
    os.makedirs(trash, exist_ok=True)
    os.makedirs(dropped, exist_ok=True)
    for p in parts:
        dst = os.path.join(data_path, p)
        src = os.path.join(tmp_path, p)
        if os.path.isdir(src):
            if os.path.isdir(dst):
                os.rename(dst, os.path.join(trash, p))
            os.rename(src, dst)
        elif os.path.isdir(dst):
            # no replacement written: the partition emptied out entirely
            os.rename(dst, os.path.join(dropped, p))
    shutil.rmtree(dropped, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _publish_dir(data_path: str, tmp_path: str) -> None:
    """Whole-store publish (non-bucketed layouts): rename-only, never a
    delete before the replacement is live (review finding: the previous
    rmtree-then-rename left a window where the fully-written tmp dir was
    the ONLY copy — and recovery would have deleted it). Crash between the
    two renames leaves data_path missing with a COMPLETE tmp alongside;
    `_recover_swaps` promotes that tmp, finishing the publish."""
    old = f"{data_path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(data_path):
        os.rename(data_path, old)
        os.rename(tmp_path, data_path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp_path, data_path)


def _recover_swaps(data_path: str) -> None:
    """Crash recovery for `_swap_partitions` / `_publish_dir`. Idempotent;
    called before any store write. Rules, in dependency order:

      1. data_path missing but a `__tmp_`/`__old_` survivor exists — a
         whole-store publish crashed between its renames. Promote the tmp
         if present (it was completely written before any rename began,
         so promoting FINISHES the intended publish); else restore the old
         dir. Never delete a tmp while data_path is missing.
      2. `__trash_` entries absent from the live tree — a partition swap
         crashed between its two renames: restore them. Entries present
         live are superseded: clear them.
      3. `__dropped_` dirs hold intentionally-deleted partitions (the
         committed job wrote no replacement): always clear, never restore.
      4. Remaining `__tmp_`/`__old_` dirs with a live data_path are
         superseded staging: clear them."""
    parent, base = os.path.split(data_path.rstrip("/"))
    if not os.path.isdir(parent):
        return
    entries = os.listdir(parent)
    if not os.path.exists(data_path):
        tmps = sorted(e for e in entries if e.startswith(f"{base}__tmp_"))
        olds = sorted(e for e in entries if e.startswith(f"{base}__old_"))
        if tmps:
            os.rename(os.path.join(parent, tmps[0]), data_path)
        elif olds:
            os.rename(os.path.join(parent, olds[0]), data_path)
        entries = os.listdir(parent)
    for entry in entries:
        full = os.path.join(parent, entry)
        if entry.startswith(f"{base}__trash_"):
            for p in os.listdir(full):
                dst = os.path.join(data_path, p)
                if not os.path.isdir(dst):
                    os.rename(os.path.join(full, p), dst)
            shutil.rmtree(full, ignore_errors=True)
        elif entry.startswith((f"{base}__dropped_", f"{base}__tmp_", f"{base}__old_")):
            if os.path.exists(data_path) and os.path.exists(full):
                shutil.rmtree(full, ignore_errors=True)


def delete_stale_chunks(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    name: str,
    stale: DataFrame | list[str],
) -> DataFrame:
    """T1 delete step: drop all chunks belonging to modified files before
    re-inserting (vector_store.py:239-245 DELETE ... WHERE
    JSON_VALUE(metadata,'$.filename') IN (...)).

    `stale` is a DataFrame with a single `filename` column (a list of
    strings is accepted as a convenience and converted). The delete is a
    LEFT ANTI join — the stale set never leaves the cluster, so a refresh
    wave of millions of changed files costs one shuffle, not a
    driver-materialized IN-list.

    On a `file_buckets` store the rewrite is PARTITION-SCOPED: only the
    fbucket partitions that contain stale files are anti-joined and
    swapped; every other partition directory is untouched. The only
    driver-side materialization is the DISTINCT affected-partition-id set,
    bounded by the layout constant `file_buckets` — never the filenames.

    Publish protocol + crash contract: see `_swap_partitions` /
    `_recover_swaps` (rename-only swap after the delta job commits; a
    crash leaves per-partition-consistent state that the next write
    repairs — the accepted O(delta) tradeoff vs an O(store) rewrite)."""
    data_path = catalog.data_path(name)
    _recover_swaps(data_path)
    existing = read_store(spark, data_path)
    if isinstance(stale, (list, tuple)):
        stale = spark.createDataFrame([(f,) for f in stale], "filename string")
    stale = stale.select(F.col(stale.columns[0]).alias("filename")).distinct()

    meta = next((c for c in catalog.discover() if c["name"] == name), {})
    n_fb = meta.get("file_buckets")
    if n_fb:
        affected = [
            r.fbucket
            for r in stale.select(
                _file_bucket(F.col("filename"), n_fb).alias("fbucket")
            )
            .distinct()
            .collect()  # ≤ file_buckets rows: partition metadata, not data
        ]
        sub = existing.filter(F.col("fbucket").isin(affected))
        kept = sub.join(
            stale, sub["metadata"]["filename"] == stale["filename"], "left_anti"
        )
        tmp_path = f"{data_path}__tmp_{uuid.uuid4().hex[:8]}"
        kept.write.mode("overwrite").partitionBy("fbucket").parquet(tmp_path)
        _swap_partitions(data_path, tmp_path, [f"fbucket={b}" for b in affected])
    else:
        kept = existing.join(
            stale, existing["metadata"]["filename"] == stale["filename"], "left_anti"
        )
        tmp_path = f"{data_path}__tmp_{uuid.uuid4().hex[:8]}"
        kept.write.mode("overwrite").parquet(tmp_path)
        _publish_dir(data_path, tmp_path)
    return read_store(spark, data_path)


def refresh_diff(current: DataFrame, held: DataFrame) -> DataFrame:
    """J4 diff join, fully distributed: files in `current` that are new
    (no store row) or modified (fingerprint mismatch, null-safe — store
    rows with no fingerprint count as modified). `current` needs columns
    (doc_id, filename, fp); `held` needs (filename, old_fp)."""
    held = held.withColumn("in_store", F.lit(True))
    return (
        current.join(held, "filename", "left")
        .filter(F.col("in_store").isNull() | ~F.col("fp").eqNullSafe(F.col("old_fp")))
        .select("doc_id", "filename")
    )


def refresh_store(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    name: str,
    current_docs: DataFrame,
    chunk_size: int = 200,
    overlap: int = 40,
    remove_missing: bool = False,
    file_buckets: int | None = None,
) -> DataFrame:
    """T1: incremental refresh (embed/refresh.py:28-143 + oci/bucket.py:
    151-181): diff the current corpus against what the store already holds
    (per-file fingerprint), DELETE stale chunks of changed files, re-chunk
    and anti-join-INSERT only the changed/new files. Unchanged files are
    never re-embedded — the whole point of the reference's etag/mtime diff.

    The store-side state is the per-file md5 fingerprint carried in chunk
    metadata; the diff join is J4 (left join from current): new files are
    unmatched, modified files have differing fingerprints. Store rows with
    NO fingerprint (written by a direct populate_store) are treated as
    modified, not unchanged — the comparison is null-safe. Like the
    reference, files absent from `current_docs` are left in place (the
    bucket diff never sees deletions); pass remove_missing=True to also
    drop their chunks — only valid when current_docs is the FULL corpus,
    not a delta batch.

    Unlike the reference's driver-side dict diff (oci/bucket.py:151-181),
    the changed/missing sets here are DataFrames end-to-end: the delete is
    a left-anti join and the re-embed set a left-semi join, so a refresh
    wave of millions of changed files never materializes on the driver."""
    from ..functions import text as T

    current = current_docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("filename"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    data_path = catalog.data_path(name)
    if os.path.exists(data_path):
        held = (
            read_store(spark, data_path)
            .select(
                F.col("metadata")["filename"].alias("filename"),
                F.col("metadata")["fingerprint"].alias("old_fp"),
            )
            .dropDuplicates(["filename"])
        )
        # the diff stays a DataFrame end-to-end. localCheckpoint
        # materializes it BEFORE delete_stale_chunks replaces the store
        # files its lineage reads — and doubles as the reuse point (the
        # same diff feeds the emptiness probe, the delete, and the
        # re-embed semi-join without recomputing fingerprints).
        changed = refresh_diff(current, held).localCheckpoint()
        stale = changed.select("filename")
        if remove_missing:
            missing = (
                held.join(current.select("filename"), "filename", "left_anti")
                .select("filename")
                .localCheckpoint()
            )
            stale = stale.unionByName(missing)
        if stale.isEmpty():
            return read_store(spark, data_path)
        delete_stale_chunks(spark, catalog, name, stale)
        if changed.isEmpty():
            return read_store(spark, data_path)
        to_embed = current_docs.join(
            changed.select("doc_id"), "doc_id", "left_semi"
        )
    else:
        to_embed = current_docs
    fps = to_embed.select(
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("filename"),
        T.fingerprint(F.col("text")).alias("doc_fp"),
    )
    chunks = (
        chunks_from_documents(to_embed, chunk_size, overlap)
        .withColumn("filename", F.col("metadata")["filename"])
        .join(F.broadcast(fps), "filename")
        .withColumn(
            "metadata",
            F.map_concat(
                "metadata", F.create_map(F.lit("fingerprint"), F.col("doc_fp"))
            ),
        )
        .drop("filename", "doc_fp")
    )
    return populate_store(spark, catalog, name, chunks)


def _similarity(spark: SparkSession, metric: str) -> Column:
    """round(score, 3) for a registered distance metric (COSINE, DOT or
    EUCLIDEAN) over the store's `embedding` and a `_q` query-vector column,
    scaled like the retriever's hit list. Building the higher-order
    expression is ~50 py4j calls, ~50 ms of Python plus JVM CPU per store
    per request on a 4-core box, so the Column is held per live
    SparkContext and metric (`cache.held`; the `similarity._rp_project`
    precedent); the per-request query vector rides in `_q`, which Catalyst
    collapses back into one literal."""
    from ..functions import vector as V

    def build():
        emb, q = F.col("embedding"), F.col("_q")
        if "COSINE" in metric:
            sim = F.lit(1.0) - (F.lit(1.0) - V.cosine_similarity(emb, q)) / F.lit(2.0)
        elif "DOT" in metric:
            sim = V.dot(emb, q)
        else:
            sim = F.lit(1.0) / (F.lit(1.0) + V.euclidean_distance(emb, q))
        return F.round(sim, 3) + F.lit(0.0)

    return held(spark.sparkContext, ("similarity", metric), build)


def _scored_store(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    name: str,
    query_text: str,
    score_threshold: float,
    meta: dict,
) -> DataFrame:
    """(id, text, similarity) of every row of store `name` a search may
    return: the query vector is one array literal in a `_q` column, a
    clustered store is pruned to the query's bucket directory, the score
    is `_similarity`'s expression for the store's metric, and rows under
    `score_threshold` are dropped."""
    import numpy as np

    from ..embedding import HashEmbedder

    store = read_store(spark, catalog.data_path(name))
    q_emb = HashEmbedder().embed_query(query_text)
    qvec = F.lit(np.asarray(q_emb, dtype=np.float64))
    if meta.get("clustered"):
        # bucket is a Hive partition column → this predicate prunes
        # directories before any row is read (the ANN scale path)
        bits = int(meta.get("bucket_bits") or 8)
        # python mirror of functions.vector.sign_bucket (first `bits` dims)
        q_bucket = sum((1 << i) for i in range(bits) if q_emb[i] >= 0)
        store = store.filter(F.col("bucket") == q_bucket)
    sim = _similarity(spark, meta.get("distance_metric", "COSINE").upper())
    out = store.withColumn("_q", qvec).select("id", "text", sim.alias("similarity"))
    if score_threshold > 0:
        out = out.filter(F.col("similarity") >= score_threshold)
    return out


def search_store(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    name: str,
    query_text: str,
    top_k: int = 8,
    score_threshold: float = 0.0,
    meta: dict | None = None,
) -> DataFrame:
    """J1 read path over a built store: embed query (driver-side, D4) →
    broadcast → distance expr by the store's registered metric → threshold
    → top-k. Returns (id, text, similarity) like the retriever's hit list.

    Building the plan starts no Spark job: the store is read with its
    declared schema, the query vector is one array literal and the score
    expression is built once per session. A caller that already read the
    catalog passes the store's entry as `meta`."""
    if meta is None:
        meta = _store_meta(catalog.discover(), name)
    return _scored_store(
        spark, catalog, name, query_text, score_threshold, meta
    ).orderBy(F.desc("similarity"), F.asc("id")).limit(top_k)


def multi_store_search(
    spark: SparkSession,
    catalog: VectorStoreCatalog,
    names: list[str],
    query_text: str,
    top_k: int = 8,
    score_threshold: float = 0.0,
    metas: list[dict] | None = None,
) -> DataFrame:
    """The §3.1 retrieval sub-plan: fan out over ≤3 stores (the reference
    caps LLM table selection at 3, vs_retriever.py:34), each store's top-k,
    union the hits, keep-max dedup on text (W3: first wins on ties —
    replace only on strictly higher score, vs_retriever.py:130-151; ties
    go to the first store name, then the lower id), global re-sort,
    top-k (W1). Returns (id, text, similarity, searched_table).

    One declarative plan, analyzed once: the scored stores enter one SQL
    statement as parameters, so the union, window and sorts cost one
    analysis instead of one per chained DataFrame call. The catalog is
    read once (or not at all when the caller passes `metas`)."""
    if metas is None:
        metas = catalog.discover()
    stores = {
        f"s{i}": _scored_store(
            spark, catalog, n, query_text, score_threshold, _store_meta(metas, n)
        )
        for i, n in enumerate(names[:3])
    }
    hits = " UNION ALL ".join(
        f"(SELECT id, text, similarity, :n{i} AS searched_table FROM {{s{i}}}"
        f" ORDER BY similarity DESC, id ASC LIMIT {int(top_k)})"
        for i in range(len(stores))
    )
    return spark.sql(
        f"""
        SELECT id, text, similarity, searched_table FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY text
                ORDER BY similarity DESC, searched_table ASC, id ASC
            ) AS rn
            FROM ({hits})
        )
        WHERE rn = 1
        ORDER BY similarity DESC, id ASC
        LIMIT {int(top_k)}
        """,
        args={f"n{i}": n for i, n in enumerate(names[:3])},
        **stores,
    )
