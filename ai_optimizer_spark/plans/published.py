"""PUBLISHED store — snapshot-isolated serving for the maintained
vector store (verdict r9 task 1: the last 100 TB semantic gap).

The maintained store (plans/maintenance.py) mutates serving partitions
IN PLACE under a one-writer contract; a concurrent reader that resolved
its probe list from the old geometry can scan a cell mid-rewrite. This
module closes that window with the lakehouse snapshot pattern — the
reference promotes finished embeddings by temp-table → validate → swap
(src/server/app/embed/vector_store.py:122-156,250-264); here the same
publish-by-pointer idea is rebuilt Spark-first at CELL granularity:

  <warehouse>/sq8_pub_<tag>_k<k>/
    cells/c<cid>-e<epoch>-<nonce>.parquet   immutable per-cell data files
                                            (vec_id, label, scale, codes)
    geoms/gen-<epoch:06d>.parquet           one k-row SNAPSHOT per epoch:
                                            (cid, seed_vec_id, r_cell,
                                             n_vecs, path)

  * A snapshot is a complete, immutable description of one store state:
    the cell set, each cell's seed + radius + occupancy, and the exact
    data file serving it. Manifest and geometry are ONE k-row file.
  * CURRENT is not a mutable pointer file: it is "the highest committed
    epoch in geoms/". Committing = renaming a fully-written single
    parquet file into geoms/ — atomic on HDFS and local FS (single
    rename), a single PUT on object stores. There is NO state in which
    a reader can observe a partial snapshot: either gen-E.parquet exists
    (complete by construction — the rename happens after the write
    finishes) or it does not.
  * A repair writes NEW files for affected cells only (the same
    partition-bounded cost as the in-place layer), carries untouched
    cells' manifest rows — and their data files — forward by reference,
    then commits the next epoch. Readers pinned to epoch E keep serving
    E's files; new readers resolve E+1. Old epochs stay fully servable
    until swept.
  * A crash anywhere before the commit leaves orphan cell files and no
    new epoch: readers are unaffected; sweep_published removes the
    orphans by age.

Scale shape at 100 TB: a snapshot is k rows (MBs at k = 50k cells); a
serve ranks the cells of a session-held model (the manifest rows and the
seed vectors are each read once per epoch, see resolve_snapshot and
similarity.cell_model) on the driver and reads exactly n_probe data files
(file-level pruning — stronger than partition pruning, the scan list is
explicit); a repair touches affected cells only; a commit is one rename;
the sweeper lists two small directories. No catalog state at all — the
layout is self-describing on any Hadoop FileSystem scheme, so it
survives process death without the in-memory-catalog caveats the table
layer carries.

Decision policy: publish_repair feeds manifest occupancy into the SAME
`_decision_table` core live_repair_plan uses (fixed-target thresholds,
nearest-KEEP merge routing) and executes splits with the same
`split_member_assign*` math — the published and in-place layers cannot
drift (tests/test_published.py pins store-level equality between them).
"""

from __future__ import annotations

import os
import re
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_tables
from .bucketing import IVF_N_CENTROIDS, ensure_sq8_clustered_store
from .maintenance import _decision_table

_GEOM_RE = re.compile(r"^gen-(\d{6})\.parquet$")

# published-store cell-file schema (cid lives in the MANIFEST, not the
# file: files are written via partitionBy so the column is stripped)
_CELL_SCHEMA = "vec_id long, label int, scale double, codes array<tinyint>"
# committed snapshot (geometry file) schema
_GEOM_SCHEMA = "cid long, seed_vec_id long, r_cell double, n_vecs long, path string"

# Snapshot rows memo, weak per session: (root, epoch) -> (file stamp,
# rows). Committed epochs are write-once, so a hit is exact; the stamp
# (mtime, length) still guards against a root rebuilt in place.
_SNAPSHOT_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _pub_root(spark: SparkSession, sf_dir: str, n_centroids: int) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.replace("file:", "")
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    return os.path.join(os.path.abspath(wh), f"sq8_pub_{tag}_k{n_centroids}")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _listdir(spark: SparkSession, path: str) -> list[str]:
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic move within one FileSystem. Never renames ONTO an existing
    path — epochs and cell files are write-once names — so the plain
    `FileSystem.rename` (atomic on HDFS/local, no overwrite semantics
    needed) is sufficient."""
    fs, jvm = _fs(spark, src)
    ok = fs.rename(
        jvm.org.apache.hadoop.fs.Path(src), jvm.org.apache.hadoop.fs.Path(dst)
    )
    if not ok:
        raise IOError(f"rename failed: {src} -> {dst}")


def _mkdirs(spark: SparkSession, path: str) -> None:
    fs, jvm = _fs(spark, path)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(path))


def _delete(spark: SparkSession, path: str, recursive: bool = False) -> None:
    fs, jvm = _fs(spark, path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), recursive)


def published_epochs(spark: SparkSession, sf_dir: str, n_centroids: int) -> list[int]:
    """Committed epochs, ascending. CURRENT = the max (None if empty)."""
    geoms = _listdir(spark, os.path.join(_pub_root(spark, sf_dir, n_centroids), "geoms"))
    return sorted(int(m.group(1)) for f in geoms if (m := _GEOM_RE.match(f)))


def resolve_snapshot(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
) -> tuple[int, list]:
    """(epoch, rows) where rows = [(cid, seed_vec_id, r_cell, n_vecs,
    path)] — the k-row model state a reader needs, collected once per
    session and epoch (a repeated resolve lists geoms/ and stats one file,
    no Spark job). `epoch=None` resolves CURRENT. Raises if nothing is
    published."""
    eps = published_epochs(spark, sf_dir, n_centroids)
    if not eps:
        raise LookupError(
            f"no published snapshot under {_pub_root(spark, sf_dir, n_centroids)}"
        )
    ep = max(eps) if epoch is None else int(epoch)
    if ep not in eps:
        raise LookupError(f"epoch {ep} is not committed (have {eps})")
    root = _pub_root(spark, sf_dir, n_centroids)
    path = os.path.join(root, "geoms", f"gen-{ep:06d}.parquet")
    fs, jvm = _fs(spark, path)
    st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path))
    stamp = (st.getModificationTime(), st.getLen())
    memo = _SNAPSHOT_MEMO.setdefault(spark, {})
    held = memo.get((root, ep))
    if held is None or held[0] != stamp:
        rows = sorted(
            (int(r.cid), int(r.seed_vec_id), float(r.r_cell), int(r.n_vecs), str(r.path))
            for r in spark.read.schema(_GEOM_SCHEMA).parquet(path).collect()
        )
        held = memo[(root, ep)] = (stamp, tuple(rows))
    return ep, list(held[1])


def _commit_snapshot(
    spark: SparkSession, root: str, epoch: int, rows: list
) -> None:
    """Write the k-row snapshot to a staging dir, then atomically rename
    the single data file into geoms/gen-<epoch>.parquet. The rename IS
    the commit — everything before it is invisible to readers."""
    df = spark.createDataFrame(sorted(rows), _GEOM_SCHEMA)
    stage = os.path.join(root, f"stage-geom-{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in _listdir(spark, stage) if f.endswith(".parquet")]
    assert len(part) == 1, part
    _mkdirs(spark, os.path.join(root, "geoms"))
    _rename(
        spark,
        os.path.join(stage, part[0]),
        os.path.join(root, "geoms", f"gen-{epoch:06d}.parquet"),
    )
    _delete(spark, stage, recursive=True)


def _stage_cell_files(
    spark: SparkSession, root: str, epoch: int, rows: DataFrame
) -> dict[int, str]:
    """Write one immutable parquet file per cid present in `rows` and
    return {cid: relative path}. One Spark job (repartition('cid') +
    partitionBy keeps one file per cell), then k renames — file moves
    are metadata operations."""
    stage = os.path.join(root, f"stage-cells-{uuid.uuid4().hex[:8]}")
    (
        rows.select("vec_id", "label", "scale", "codes", "cid")
        .repartition("cid")
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(stage)
    )
    out: dict[int, str] = {}
    _mkdirs(spark, os.path.join(root, "cells"))
    for d in _listdir(spark, stage):
        if not d.startswith("cid="):
            continue
        cid = int(d.split("=", 1)[1])
        parts = [
            f
            for f in _listdir(spark, os.path.join(stage, d))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1, (d, parts)
        rel = f"cells/c{cid}-e{epoch}-{uuid.uuid4().hex[:8]}.parquet"
        _rename(spark, os.path.join(stage, d, parts[0]), os.path.join(root, rel))
        out[cid] = rel
    _delete(spark, stage, recursive=True)
    return out


def _read_cells(
    spark: SparkSession, root: str, cid_paths: list[tuple[int, str]]
) -> DataFrame:
    """One scan over an explicit file list with the manifest's cid
    attached by basename (cell-file basenames are globally unique) through
    one literal map lookup; the scan is file-pruned to exactly the
    requested cells."""
    paths = [os.path.join(root, p) for _, p in cid_paths]
    cid_of = F.create_map(*(
        x for c, p in cid_paths for x in (F.lit(p.rsplit("/", 1)[-1]), F.lit(int(c)))
    ))
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    df = spark.read.schema(_CELL_SCHEMA).parquet(*paths)
    return df.withColumn("cid", cid_of[fname].cast("long"))


def publish_init(
    spark: SparkSession, sf_dir: str, n_centroids: int = IVF_N_CENTROIDS
) -> int:
    """Publish epoch 1 from the build (ensure_sq8_clustered_store + its
    fused radii), idempotently: any already-committed epoch short-circuits
    — committed snapshots are immutable and complete BY CONSTRUCTION, so
    unlike the table-layer generations a prior process's published root
    is trustworthy (nothing half-applied can ever be committed)."""
    eps = published_epochs(spark, sf_dir, n_centroids)
    if eps:
        return max(eps)
    root = _pub_root(spark, sf_dir, n_centroids)
    base = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    radii = {
        int(r.cid): float(r.r_cell)
        for r in spark.table(f"sq8_cell_radii_{tag}_k{n_centroids}").collect()
    }
    store = spark.table(base).withColumn("cid", F.col("cid").cast("long"))
    counts = {
        int(r.cid): int(r.n)
        for r in store.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    paths = _stage_cell_files(spark, root, 1, store)
    rows = [
        (cid, cid, radii.get(cid, 0.0), counts[cid], paths[cid]) for cid in paths
    ]
    _commit_snapshot(spark, root, 1, rows)
    return 1


def published_served_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
) -> DataFrame:
    """geom_served_topk against a published SNAPSHOT: the probe ranks the
    held cell model of the k-row manifest's seeds, then ONE scan over
    exactly the n_probe probed cells' files. Identical output contract to
    v24/t18/t24 (vec_id, label, cid, cos_sim round-3). Readers pass
    `epoch` to pin a snapshot across a whole session — repairs committing
    meanwhile are invisible by construction."""
    from ..operators.similarity import _topk_cells, probe_query

    _ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, epoch)
    qvec, probe = probe_query(
        load_tables(spark, sf_dir)["embeddings"],
        [(cid, seed) for cid, seed, _r, _n, _p in rows],
        query_id, n_probe,
    )
    store = _read_cells(
        spark,
        _pub_root(spark, sf_dir, n_centroids),
        [(cid, p) for cid, _s, _r, _n, p in rows if cid in probe],
    ).withColumn("codes", F.col("codes").cast("array<double>"))
    return _topk_cells(store, "codes", qvec, query_id, k)


def publish_repair(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    hot_num: int = 2,
    hot_den: int = 1,
    cold_num: int = 2,
    cold_den: int = 5,
    *,
    balanced: bool = True,
) -> dict:
    """ONE plan-driven maintenance cycle as a SNAPSHOT TRANSITION:
    decide off the current manifest (occupancy is already in it — the
    decide step reads ZERO store bytes), write new files for affected
    cells only, carry untouched cells forward by reference, commit the
    next epoch. Readers of the old epoch are isolated by construction.

    Same policy arithmetic as apply_repair_plan (shared _decision_table,
    fixed-target thresholds, balanced median-cut splits by default,
    nearest-KEEP merges) — test_published.py pins store-level equality
    between the two layers. Returns {"plan": ..., "epoch": new or
    current epoch (unchanged when the plan is all-keep), ...}."""
    from ..operators.refresh import (
        split_member_assign,
        split_member_assign_balanced,
    )

    root = _pub_root(spark, sf_dir, n_centroids)
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids)
    emb = load_tables(spark, sf_dir)["embeddings"]

    occ = spark.createDataFrame(
        [(cid, n) for cid, _s, _r, n, _p in rows], "cid long, n_vecs long"
    )
    seeds = spark.createDataFrame(
        [(cid, s) for cid, s, _r, _n, _p in rows], "cid long, seed_vec_id long"
    ).join(
        emb.select(F.col("vec_id").alias("seed_vec_id"), "embedding"),
        "seed_vec_id",
    ).select("cid", F.col("embedding").alias("ce"))
    plan_rows = _decision_table(
        occ, seeds, hot_num, hot_den, cold_num, cold_den, n_centroids
    ).collect()
    split_cids = sorted(int(r.cid) for r in plan_rows if r.action == "split")
    moves = {
        int(r.cid): int(r.tgt_cid)
        for r in plan_rows
        if r.action == "merge" and int(r.tgt_cid) >= 0
    }
    out: dict = {
        "plan": {
            a: sum(1 for r in plan_rows if r.action == a)
            for a in ("split", "merge", "keep")
        },
        "epoch": ep,
        "skipped_merges": sorted(
            int(r.cid) for r in plan_rows if r.action == "merge" and r.tgt_cid < 0
        ),
    }
    if not split_cids and not moves:
        return out

    path_of = {cid: p for cid, _s, _r, _n, p in rows}
    seed_of = {cid: s for cid, s, _r, _n, _p in rows}
    r_of = {cid: r for cid, _s, r, _n, _p in rows}
    n_of = {cid: n for cid, _s, _r, n, _p in rows}
    new_epoch = ep + 1

    new_cells_rows: list[DataFrame] = []
    manifest: dict[int, tuple[int, float, int]] = {
        cid: (seed_of[cid], r_of[cid], n_of[cid]) for cid in path_of
    }
    new_paths: dict[int, str] = {}

    # ---- splits ---------------------------------------------------------
    if split_cids:
        members = (
            _read_cells(spark, root, [(c, path_of[c]) for c in split_cids])
            .select("vec_id", "cid")
            .join(emb.select("vec_id", "embedding"), "vec_id")
        )
        assigner = split_member_assign_balanced if balanced else split_member_assign
        sub = assigner(members).localCheckpoint(eager=True)
        seeds_ab = {
            int(r.cid): (int(r.a_vec), int(r.b_vec))
            for r in sub.select("cid", "a_vec", "b_vec").distinct().collect()
        }
        # degenerate all-identical cells (seed B == seed A) cannot split
        split_cids = [c for c in split_cids if seeds_ab[c][0] != seeds_ab[c][1]]
        if split_cids:
            sub = sub.filter(F.col("cid").isin(split_cids))
            next_cid = max(path_of) + 1
            new_cid_of = {c: next_cid + i for i, c in enumerate(split_cids)}
            routed = sub.select(
                "vec_id",
                "cid",
                F.when(F.col("seed_vec_id") == F.col("a_vec"), F.col("cid"))
                .otherwise(
                    F.coalesce(
                        *[
                            F.when(F.col("cid") == c, F.lit(n))
                            for c, n in new_cid_of.items()
                        ]
                    )
                )
                .alias("to_cid"),
            )
            repl = (
                _read_cells(spark, root, [(c, path_of[c]) for c in split_cids])
                .drop("cid")
                .join(F.broadcast(routed.drop("cid")), "vec_id")
                .select(
                    "vec_id", "label", "scale", "codes",
                    F.col("to_cid").alias("cid"),
                )
            )
            new_cells_rows.append(repl)
            stats = {
                (int(r.cid), int(r.seed_vec_id)): (float(r.r_sub), int(r.n_sub))
                for r in sub.groupBy("cid", "seed_vec_id")
                .agg(
                    (F.round(F.max("d_sub"), 9) + F.lit(0.0)).alias("r_sub"),
                    F.count(F.lit(1)).alias("n_sub"),
                )
                .collect()
            }
            for c in split_cids:
                a_vec, b_vec = seeds_ab[c]
                ra, na = stats.get((c, a_vec), (0.0, 0))
                rb, nb = stats.get((c, b_vec), (0.0, 0))
                manifest[c] = (a_vec, ra, na)
                manifest[new_cid_of[c]] = (b_vec, rb, nb)
            out["split"] = {
                "hot_cells": len(split_cids),
                "new_cids": sorted(new_cid_of.values()),
            }

    # ---- merges ---------------------------------------------------------
    if moves:
        from ..functions import vector as V

        cold_cids = sorted(moves)
        tgt_cids = sorted(set(moves.values()))
        remap = F.broadcast(
            spark.createDataFrame(
                [(c, t) for c, t in moves.items()], "from_cid long, to_cid long"
            )
        )
        moved = (
            _read_cells(spark, root, [(c, path_of[c]) for c in cold_cids])
            .join(remap, F.col("cid") == F.col("from_cid"))
            .select(
                "vec_id", "label", "scale", "codes", F.col("to_cid").alias("cid")
            )
        )
        kept = _read_cells(spark, root, [(c, path_of[c]) for c in tgt_cids]).select(
            "vec_id", "label", "scale", "codes", "cid"
        )
        merged = kept.unionByName(moved)
        new_cells_rows.append(merged)
        # re-tighten target radii off the merged membership
        tgt_seeds = spark.createDataFrame(
            [(t, seed_of[t]) for t in tgt_cids], "cid long, seed_vec_id long"
        ).join(
            emb.select(F.col("vec_id").alias("seed_vec_id"), "embedding"),
            "seed_vec_id",
        ).select(F.col("cid").alias("scid"), F.col("embedding").alias("se"))
        tstats = {
            int(r.cid): (float(r.r_new), int(r.n_new))
            for r in merged.select("vec_id", "cid")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .join(F.broadcast(tgt_seeds), F.col("cid") == F.col("scid"))
            .groupBy("cid")
            .agg(
                (
                    F.round(
                        F.max(V.euclidean_distance("embedding", "se")), 9
                    )
                    + F.lit(0.0)
                ).alias("r_new"),
                F.count(F.lit(1)).alias("n_new"),
            )
            .collect()
        }
        for c in cold_cids:
            del manifest[c]
        for t in tgt_cids:
            r_new, n_new = tstats[t]
            manifest[t] = (seed_of[t], r_new, n_new)
        out["merge"] = {"cold_cells": len(cold_cids), "targets": tgt_cids}

    if not new_cells_rows:
        return out  # every split degenerated; nothing to publish

    all_new = new_cells_rows[0]
    for extra in new_cells_rows[1:]:
        all_new = all_new.unionByName(extra)
    new_paths = _stage_cell_files(spark, root, new_epoch, all_new)

    snap_rows = []
    for cid, (seed, r_cell, n_vecs) in manifest.items():
        snap_rows.append(
            (cid, seed, r_cell, n_vecs, new_paths.get(cid, path_of.get(cid)))
        )
    assert all(p is not None for *_x, p in snap_rows), "manifest path hole"
    _commit_snapshot(spark, root, new_epoch, snap_rows)
    out["epoch"] = new_epoch
    return out


def published_invariants(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
) -> dict:
    """store_invariants' published twin, audited against a SNAPSHOT:
    manifest counts match the files, radii are tight (recomputed from
    source), seeds are members, every manifest path exists, one file per
    cell by construction. Audit-tool cost (reads every referenced file);
    never on a serving path."""
    from ..functions import vector as V

    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, epoch)
    root = _pub_root(spark, sf_dir, n_centroids)
    emb = load_tables(spark, sf_dir)["embeddings"]
    fs, jvm = _fs(spark, root)
    paths_exist = all(
        fs.exists(jvm.org.apache.hadoop.fs.Path(os.path.join(root, p)))
        for _c, _s, _r, _n, p in rows
    )
    store = _read_cells(spark, root, [(c, p) for c, _s, _r, _n, p in rows])
    occ = {
        int(r.cid): int(r.n)
        for r in store.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counts_match = occ == {c: n for c, _s, _r, n, _p in rows}
    seeds = spark.createDataFrame(
        [(c, s) for c, s, _r, _n, _p in rows], "cid long, seed_vec_id long"
    )
    dangling = (
        seeds.withColumnRenamed("seed_vec_id", "vec_id")
        .join(store.select("cid", "vec_id"), ["cid", "vec_id"], "left_anti")
        .count()
    )
    seed_emb = seeds.join(
        emb.select(F.col("vec_id").alias("seed_vec_id"), "embedding"),
        "seed_vec_id",
    ).select(F.col("cid").alias("scid"), F.col("embedding").alias("se"))
    actual_r = {
        int(r.cid): float(r.r)
        for r in store.select("vec_id", "cid")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(seed_emb), F.col("cid") == F.col("scid"))
        .groupBy("cid")
        .agg(
            (
                F.round(F.max(V.euclidean_distance("embedding", "se")), 9)
                + F.lit(0.0)
            ).alias("r")
        )
        .collect()
    }
    radii_tight = all(
        abs(actual_r.get(c, -1.0) - r) < 1e-9 for c, _s, r, _n, _p in rows
    )
    return {
        "epoch": ep,
        "paths_exist": paths_exist,
        "counts_match": counts_match,
        "seeds_are_members": dangling == 0,
        "radii_tight": radii_tight,
        "n_cells": len(rows),
        "n_rows": sum(occ.values()),
    }


def sweep_published(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    keep_epochs: int = 2,
    min_age_sec: float = 6 * 3600,
) -> dict:
    """Garbage-collect the published root: drop snapshots older than the
    newest `keep_epochs`, then delete cell files referenced by NO
    retained snapshot and stage dirs abandoned by crashes — both only
    when older than `min_age_sec` (readers may still be streaming a
    just-expired epoch's files; age is the grace period). Retained
    epochs keep every file they reference, so anything a live reader can
    resolve stays fully servable."""
    import time as _time

    root = _pub_root(spark, sf_dir, n_centroids)
    eps = published_epochs(spark, sf_dir, n_centroids)
    if not eps:
        return {"dropped_epochs": [], "deleted_files": 0, "deleted_stages": 0}
    retained = set(eps[-keep_epochs:]) if keep_epochs > 0 else set()
    dropped = []
    for ep in eps:
        if ep not in retained:
            _delete(
                spark, os.path.join(root, "geoms", f"gen-{ep:06d}.parquet")
            )
            dropped.append(ep)
    referenced: set[str] = set()
    for ep in retained:
        _e, rows = resolve_snapshot(spark, sf_dir, n_centroids, ep)
        referenced |= {p.rsplit("/", 1)[-1] for _c, _s, _r, _n, p in rows}
    now = _time.time()
    fs, jvm = _fs(spark, root)
    deleted = 0
    cells = os.path.join(root, "cells")
    for fname in _listdir(spark, cells):
        if fname in referenced:
            continue
        full = os.path.join(cells, fname)
        st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(full))
        if now - st.getModificationTime() / 1000.0 > min_age_sec:
            _delete(spark, full)
            deleted += 1
    stages = 0
    for d in _listdir(spark, root):
        if d.startswith("stage-"):
            full = os.path.join(root, d)
            st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(full))
            if now - st.getModificationTime() / 1000.0 > min_age_sec:
                _delete(spark, full, recursive=True)
                stages += 1
    return {
        "dropped_epochs": dropped,
        "deleted_files": deleted,
        "deleted_stages": stages,
    }
