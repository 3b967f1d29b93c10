"""PUBLISHED store — the maintained IVF/SQ8 vector store as a sequence
of immutable snapshots, with one commit protocol for every write.

The reference promotes finished embeddings by temp-table → validate →
swap (src/server/app/embed/vector_store.py:122-156,250-264); here the
same publish-by-pointer idea is rebuilt Spark-first at CELL granularity:

  <warehouse>/sq8_pub_<tag>_k<k>[_<label>]/
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
  * Every write verb — publish_repair (plan-driven split/merge),
    publish_delete (erasure wave), publish_ingest (new vectors) — ends in
    the same tail (`_publish`): write NEW files for the affected cells
    only, carry untouched cells' manifest rows and data files forward by
    reference, commit the next epoch. Readers pinned to epoch E keep
    serving E's files; new readers resolve E+1. Old epochs stay fully
    servable until swept.
  * A crash anywhere before the commit leaves orphan cell files and no
    new epoch: readers are unaffected; sweep_published removes the
    orphans by age.
  * A root LABEL names a private store (a recipe's, a test's, a probe's)
    beside the shared unlabeled one; `recipe_root` builds a deterministic
    recipe once and re-serves its committed final epoch afterwards.

Scale shape at 100 TB: a snapshot is k rows (MBs at k = 50k cells); a
serve ranks the cells of a session-held model (the manifest rows and the
seed vectors are each read once per epoch, see resolve_snapshot and
similarity.cell_model) on the driver and reads exactly n_probe data files
(file-level pruning, the scan list is explicit); a write touches affected
cells only; a commit is one rename; the sweeper lists two small
directories. No catalog state at all — the layout is self-describing on
any Hadoop FileSystem scheme, so it survives process death.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import held
from ..tables import load_tables
from .bucketing import IVF_N_CENTROIDS, ensure_sq8_clustered_store

_GEOM_RE = re.compile(r"^gen-(\d{6})\.parquet$")

# published-store cell-file schema (cid lives in the MANIFEST, not the
# file: files are written via partitionBy so the column is stripped)
_CELL_SCHEMA = "vec_id long, label int, scale double, codes array<tinyint>"
# committed snapshot (geometry file) schema
_GEOM_SCHEMA = "cid long, seed_vec_id long, r_cell double, n_vecs long, path string"


def _pub_root(
    spark: SparkSession, sf_dir: str, n_centroids: int, label: str | None = None
) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.replace("file:", "")
    tag = re.sub(r"\W", "_", sf_dir.strip("/").rsplit("/", 1)[-1])
    sfx = f"_{re.sub(r'[^0-9A-Za-z]', '_', label)}" if label else ""
    return os.path.join(os.path.abspath(wh), f"sq8_pub_{tag}_k{n_centroids}{sfx}")


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


def published_epochs(
    spark: SparkSession, sf_dir: str, n_centroids: int, *, label: str | None = None
) -> list[int]:
    """Committed epochs, ascending. CURRENT = the max (None if empty)."""
    root = _pub_root(spark, sf_dir, n_centroids, label)
    geoms = _listdir(spark, os.path.join(root, "geoms"))
    return sorted(int(m.group(1)) for f in geoms if (m := _GEOM_RE.match(f)))


def resolve_snapshot(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
    *,
    label: str | None = None,
) -> tuple[int, list]:
    """(epoch, rows) where rows = [(cid, seed_vec_id, r_cell, n_vecs,
    path)] — the k-row model state a reader needs, collected once per
    session and epoch (a repeated resolve lists geoms/ and stats one file,
    no Spark job). Committed epochs are write-once; the file's stamp
    (mtime, length) still guards against a root rebuilt in place.
    `epoch=None` resolves CURRENT. Raises if nothing is published."""
    root = _pub_root(spark, sf_dir, n_centroids, label)
    eps = published_epochs(spark, sf_dir, n_centroids, label=label)
    if not eps:
        raise LookupError(f"no published snapshot under {root}")
    ep = max(eps) if epoch is None else int(epoch)
    if ep not in eps:
        raise LookupError(f"epoch {ep} is not committed (have {eps})")
    path = os.path.join(root, "geoms", f"gen-{ep:06d}.parquet")
    fs, jvm = _fs(spark, path)
    st = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path))
    rows = held(spark, ("snapshot", root, ep), lambda: tuple(sorted(
        (int(r.cid), int(r.seed_vec_id), float(r.r_cell), int(r.n_vecs), str(r.path))
        for r in spark.read.schema(_GEOM_SCHEMA).parquet(path).collect()
    )), stamp=(st.getModificationTime(), st.getLen()))
    return ep, list(rows)


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
        rows.select(
            F.col("vec_id").cast("long"),
            F.col("label").cast("int"),
            F.col("scale").cast("double"),
            F.col("codes").cast("array<tinyint>"),
            F.col("cid").cast("long"),
        )
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


def _publish(
    spark: SparkSession,
    root: str,
    epoch: int,
    manifest: dict[int, tuple[int, float, int]],
    path_of: dict[int, str],
    new_cells: DataFrame | None,
) -> int:
    """The stage-and-commit tail every write verb shares: stage one file
    per cell of `new_cells`, carry every other cell of `manifest`
    ({cid: (seed_vec_id, r_cell, n_vecs)}) forward by its `path_of` file,
    commit epoch + 1 and return it."""
    new_paths = {} if new_cells is None else _stage_cell_files(
        spark, root, epoch + 1, new_cells
    )
    rows = [
        (cid, seed, r_cell, n_vecs, new_paths.get(cid, path_of.get(cid)))
        for cid, (seed, r_cell, n_vecs) in manifest.items()
    ]
    assert all(p is not None for *_x, p in rows), "manifest path hole"
    _commit_snapshot(spark, root, epoch + 1, rows)
    return epoch + 1


def _read_cells(spark: SparkSession, root: str, paths: list[str]) -> DataFrame:
    """One scan over an explicit list of cell files (paths relative to
    `root`) with each row's cid attached from its file name: a cell file
    is named c<cid>-e<epoch>-<nonce>.parquet when it is staged, and a
    manifest row only ever points its cid at such a file. The scan is
    file-pruned to exactly the requested cells."""
    fname = F.substring_index(F.input_file_name(), "/", -1)
    cid = F.substring_index(fname, "-", 1).substr(2, 19).cast("long")
    return spark.read.schema(_CELL_SCHEMA).parquet(
        *(os.path.join(root, p) for p in paths)
    ).withColumn("cid", cid)


def _id_frame(spark: SparkSession, names: tuple[str, str], pairs) -> DataFrame:
    """A k-row frame of bigint pairs, as an inline VALUES table: it plans
    as a local relation, so reading it runs no Python worker (a
    createDataFrame of Python rows scans as an RDD of pickled rows, once
    per use in a plan)."""
    values = ", ".join(f"({int(a)}L, {int(b)}L)" for a, b in sorted(pairs))
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names[0]}, {names[1]})")


def _seed_frame(spark: SparkSession, emb: DataFrame, seed_of: dict[int, int]) -> DataFrame:
    """(cid, ce): each cell's centroid, the source vector at its seed.
    k rows; the join broadcasts and the source scan is id-filtered."""
    return F.broadcast(
        _id_frame(spark, ("cid", "seed_vec_id"), seed_of.items())
    ).join(
        emb.select(F.col("vec_id").alias("seed_vec_id"), "embedding"),
        "seed_vec_id",
    ).select("cid", F.col("embedding").alias("ce"))


def _cell_stats(
    emb: DataFrame, members: DataFrame, seeds: DataFrame
) -> dict[int, tuple[float, int]]:
    """{cid: (r_cell, n_vecs)} of the cells in `members` (vec_id, cid):
    the max member distance to the cell's seed vector in `seeds`
    (cid, ce), rounded to 9 digits like the build's radii, and the member
    count. One pass over the given cells' members."""
    from ..functions import vector as V

    return {
        int(r.cid): (float(r.r), int(r.n))
        for r in members.select("vec_id", "cid")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(seeds.withColumnRenamed("cid", "scid")),
              F.col("cid") == F.col("scid"))
        .groupBy("cid")
        .agg(
            (F.round(F.max(V.euclidean_distance("embedding", "ce")), 9)
             + F.lit(0.0)).alias("r"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }


def _decision_table(
    occ: DataFrame,
    seeds: DataFrame,
    hot_num: int,
    hot_den: int,
    cold_num: int,
    cold_den: int,
    k_base: int,
) -> DataFrame:
    """The repair policy: exact integer threshold predicates against the
    FIXED target n_total / k_base, nearest-KEEP merge targets (ties → min
    cid). Inputs: occ(cid, n_vecs) — k rows; seeds(cid, ce) — k rows.
    See published_repair_plan for the policy's rationale."""
    from ..functions import vector as V

    tot = occ.agg(F.sum("n_vecs").alias("n_total"))
    flagged = occ.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        "n_total",
        (
            F.col("n_vecs") * hot_den * k_base > F.lit(hot_num) * F.col("n_total")
        ).alias("is_hot"),
        (
            F.col("n_vecs") * cold_den * k_base < F.lit(cold_num) * F.col("n_total")
        ).alias("is_cold"),
    )
    keep = (
        flagged.filter(~F.col("is_hot") & ~F.col("is_cold"))
        .select(F.col("cid").alias("tcid"))
        .join(
            F.broadcast(
                seeds.select(F.col("cid").alias("tcid"), F.col("ce").alias("tce"))
            ),
            "tcid",
        )
    )
    w_t = Window.partitionBy("cid").orderBy(F.asc("cdist"), F.asc("tcid"))
    targets = (
        flagged.filter(F.col("is_cold"))
        .join(F.broadcast(seeds.withColumnRenamed("cid", "scid")),
              F.col("cid") == F.col("scid"))
        .crossJoin(F.broadcast(keep))
        .select("cid", "tcid", V.euclidean_distance("ce", "tce").alias("cdist"))
        .withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") == 1)
        .select(F.col("cid").alias("m_cid"), F.col("tcid").alias("tgt"))
    )
    return (
        flagged.join(F.broadcast(targets), F.col("cid") == F.col("m_cid"), "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (
                F.round(F.col("n_vecs") * k_base / F.col("n_total"), 4)
                + F.lit(0.0)
            ).alias("occupancy_ratio"),
            F.when(F.col("is_hot"), F.lit("split"))
            .when(F.col("is_cold"), F.lit("merge"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            F.coalesce(F.col("tgt"), F.lit(-1)).cast("long").alias("tgt_cid"),
        )
        .orderBy("cid")
    )


def publish_init(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    *,
    label: str | None = None,
) -> int:
    """Publish epoch 1 from the build (ensure_sq8_clustered_store + its
    fused radii), idempotently: any already-committed epoch short-circuits
    — committed snapshots are immutable and complete BY CONSTRUCTION, so
    a prior process's published root is trustworthy (nothing half-applied
    can ever be committed)."""
    eps = published_epochs(spark, sf_dir, n_centroids, label=label)
    if eps:
        return max(eps)
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
    manifest = {cid: (cid, radii.get(cid, 0.0), n) for cid, n in counts.items()}
    return _publish(
        spark, _pub_root(spark, sf_dir, n_centroids, label), 0, manifest, {}, store
    )


def published_served_topk(
    spark: SparkSession,
    sf_dir: str,
    query_id: int = 0,
    k: int = 8,
    n_probe: int = 4,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
    *,
    label: str | None = None,
) -> DataFrame:
    """The maintained store's read against a published SNAPSHOT: the
    probe ranks the held cell model of the k-row manifest's seeds, then
    ONE scan over exactly the n_probe probed cells' files. Identical
    output contract to v24 (vec_id, label, cid, cos_sim round-3). Readers
    pass `epoch` to pin a snapshot across a whole session — writes
    committing meanwhile are invisible by construction."""
    from ..operators.similarity import _topk_cells, probe_query

    _ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, epoch, label=label)
    qvec, probe = probe_query(
        load_tables(spark, sf_dir)["embeddings"],
        [(cid, seed) for cid, seed, _r, _n, _p in rows],
        query_id, n_probe,
    )
    store = _read_cells(
        spark,
        _pub_root(spark, sf_dir, n_centroids, label),
        [p for cid, _s, _r, _n, p in rows if cid in probe],
    ).withColumn("codes", F.col("codes").cast("array<double>"))
    return _topk_cells(store, "codes", qvec, query_id, k)


def published_repair_plan(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    hot_num: int = 2,
    hot_den: int = 1,
    cold_num: int = 2,
    cold_den: int = 5,
    *,
    epoch: int | None = None,
    label: str | None = None,
) -> DataFrame:
    """t19's decision table computed off a snapshot's MANIFEST: occupancy
    and seeds are already in the k-row manifest, so deciding reads zero
    store bytes and stays meaningful after any sequence of writes.

    Thresholds compare against a FIXED target occupancy
    target = n_total / n_centroids (the BUILD k), not the live average:

        action = 'split' if n_vecs > hot_num/hot_den x target
                 'merge' if n_vecs < cold_num/cold_den x target
                         (tgt_cid = nearest KEEP cell by seed euclidean,
                          ties -> min cid; -1 when no keep cell exists)
                 'keep'  otherwise (tgt_cid = -1)

    The fixed target is what makes the loop CONVERGE. Against the live
    average, every split lowers the average and so lowers the hot bar,
    ratcheting previously-fine cells over it — measured at sf0.001 the
    1.1x-of-average policy split 1, then 2, then 3 cells on consecutive
    cycles. Against a fixed target the bars never move, so each split
    strictly reduces the mass above the hot bar and the policy reaches
    all-keep. The fixed target is also the 100 TB semantics: a cell's
    file should hold roughly a target number of rows (file-size driven),
    regardless of how many cells currently exist.

    Merge targets are restricted to KEEP cells (t19's analysis form
    allows any non-cold target): in an applied cycle a hot target would
    be mutated twice in one cycle (split then receive a merge), which
    makes the executed state diverge from what the plan was computed on.

    HYSTERESIS: defaults are hot = 2.0x target and cold = 0.4x target,
    NOT t19's 1.1x/0.9x detection bands. A split halves a just-over-hot
    cell to ~hot/2 x target, so halves stay out of the cold band only
    when hot_num/hot_den >= 2 x cold_num/cold_den. publish_repair warns
    when a caller's thresholds do not."""
    _ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, epoch, label=label)
    occ = _id_frame(spark, ("cid", "n_vecs"), [(cid, n) for cid, _s, _r, n, _p in rows])
    seeds = _seed_frame(
        spark,
        load_tables(spark, sf_dir)["embeddings"],
        {cid: s for cid, s, _r, _n, _p in rows},
    )
    return _decision_table(
        occ, seeds, hot_num, hot_den, cold_num, cold_den, n_centroids
    )


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
    label: str | None = None,
) -> dict:
    """ONE plan-driven maintenance cycle as a SNAPSHOT TRANSITION:
    decide off the current manifest (published_repair_plan), execute
    exactly its rows — splits on the 'split' cids (balanced median cut by
    default, nearest-seed with balanced=False: t15's rule), merges of
    each 'merge' cid into its tgt_cid — and publish the next epoch.
    Splits allocate new cids above the current max, in cid order; a
    degenerate all-identical cell (seed B == seed A) is left alone; merge
    rows without a keep target (tgt_cid -1) are skipped and reported.
    Returns {"plan": {action: count}, "epoch": new or current epoch
    (unchanged when nothing executes), "skipped_merges", "split",
    "merge"}."""
    from ..operators.refresh import (
        split_member_assign,
        split_member_assign_balanced,
    )

    if hot_num * cold_den < 2 * cold_num * hot_den:
        import warnings

        warnings.warn(
            "publish_repair thresholds lack split/merge hysteresis "
            f"(hot {hot_num}/{hot_den} < 2 x cold {cold_num}/{cold_den}): "
            "a split cell's halves may be merged straight back next cycle",
            stacklevel=2,
        )
    root = _pub_root(spark, sf_dir, n_centroids, label)
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, label=label)
    emb = load_tables(spark, sf_dir)["embeddings"]
    plan_rows = published_repair_plan(
        spark, sf_dir, n_centroids, hot_num, hot_den, cold_num, cold_den,
        epoch=ep, label=label,
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
    manifest = {cid: (s, r, n) for cid, s, r, n, _p in rows}
    new_cells_rows: list[DataFrame] = []

    # ---- splits ---------------------------------------------------------
    if split_cids:
        members = (
            _read_cells(spark, root, [path_of[c] for c in split_cids])
            .select("vec_id", "cid")
            .join(emb.select("vec_id", "embedding"), "vec_id")
        )
        assigner = split_member_assign_balanced if balanced else split_member_assign
        sub = assigner(members).localCheckpoint(eager=True)
        seeds_ab = {
            int(r.cid): (int(r.a_vec), int(r.b_vec))
            for r in sub.select("cid", "a_vec", "b_vec").distinct().collect()
        }
        split_cids = [c for c in split_cids if seeds_ab[c][0] != seeds_ab[c][1]]
        if split_cids:
            sub = sub.filter(F.col("cid").isin(split_cids))
            next_cid = max(path_of) + 1
            new_cid_of = {c: next_cid + i for i, c in enumerate(split_cids)}
            routed = sub.select(
                "vec_id",
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
            new_cells_rows.append(
                _read_cells(spark, root, [path_of[c] for c in split_cids])
                .drop("cid")
                .join(F.broadcast(routed), "vec_id")
                .withColumnRenamed("to_cid", "cid")
            )
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
                manifest[c] = (a_vec, *stats.get((c, a_vec), (0.0, 0)))
                manifest[new_cid_of[c]] = (b_vec, *stats.get((c, b_vec), (0.0, 0)))
            out["split"] = {
                "hot_cells": len(split_cids),
                "new_cids": sorted(new_cid_of.values()),
            }

    # ---- merges ---------------------------------------------------------
    if moves:
        cold_cids = sorted(moves)
        tgt_cids = sorted(set(moves.values()))
        remap = F.create_map(*(
            F.lit(x).cast("long") for c, t in sorted(moves.items()) for x in (c, t)
        ))
        merged = _read_cells(
            spark, root, [path_of[c] for c in cold_cids + tgt_cids]
        ).withColumn("cid", F.coalesce(remap[F.col("cid")], F.col("cid")))
        new_cells_rows.append(merged)
        tstats = _cell_stats(
            emb, merged, _seed_frame(spark, emb, {t: seed_of[t] for t in tgt_cids})
        )
        for c in cold_cids:
            del manifest[c]
        for t in tgt_cids:
            manifest[t] = (seed_of[t], *tstats[t])
        out["merge"] = {"cold_cells": len(cold_cids), "targets": tgt_cids}

    if not new_cells_rows:
        return out  # every split degenerated; nothing to publish

    all_new = new_cells_rows[0]
    for extra in new_cells_rows[1:]:
        all_new = all_new.unionByName(extra)
    out["epoch"] = _publish(spark, root, ep, manifest, path_of, all_new)
    return out


def publish_delete(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    del_mod: int = 41,
    del_rem: int = 5,
    *,
    label: str | None = None,
) -> dict:
    """t16b's erasure wave as a snapshot transition: rows with
    vec_id % del_mod == del_rem leave the store. Only the cells the wave
    hits get new files (their survivors); a cell the wave empties leaves
    the manifest; the hit cells' radii re-tighten over their survivors.

    SEED-AWARE: when the wave erases a cell's seed_vec_id, the cell is
    re-seeded with its minimum surviving vec_id (t15's A-seed convention)
    and its radius re-tightens against the NEW seed, so every manifest
    seed stays a live member of its own cell (published_invariants'
    seeds_are_members). A wave that hits nothing commits nothing.

    Erasure CONTRACT: the wave erases the id from the DERIVED store
    (codes + manifest references). Completing a right-to-be-forgotten
    request additionally requires deleting the raw vector from the
    SOURCE embeddings table — that table is owned by the ingest layer
    (reference cascade semantics: database/objects.py:69-71), and this
    function never writes to source tables. Callers sequence: source
    delete → delete wave → invariant audit."""
    root = _pub_root(spark, sf_dir, n_centroids, label)
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, label=label)
    path_of = {cid: p for cid, _s, _r, _n, p in rows}
    manifest = {cid: (s, r, n) for cid, s, r, n, _p in rows}
    is_del = F.col("vec_id") % del_mod == del_rem
    n_del_of = {
        int(r.cid): int(r.n)
        for r in _read_cells(spark, root, list(path_of.values()))
        .filter(is_del)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not n_del_of:
        return {"affected_cells": 0, "deleted": 0, "epoch": ep}
    affected = sorted(n_del_of)
    emptied = [c for c in affected if manifest[c][2] == n_del_of[c]]
    nonempty = [c for c in affected if c not in emptied]
    for c in emptied:
        del manifest[c]
    survivors = None
    new_seed_of: dict[int, int] = {}
    if nonempty:
        survivors = _read_cells(
            spark, root, [path_of[c] for c in nonempty]
        ).filter(~is_del)
        hit = [c for c in nonempty if manifest[c][0] % del_mod == del_rem]
        if hit:
            new_seed_of = {
                int(r.cid): int(r.s)
                for r in survivors.filter(F.col("cid").isin(hit))
                .groupBy("cid")
                .agg(F.min("vec_id").alias("s"))
                .collect()
            }
        emb = load_tables(spark, sf_dir)["embeddings"]
        seed_of = {c: new_seed_of.get(c, manifest[c][0]) for c in nonempty}
        stats = _cell_stats(emb, survivors, _seed_frame(spark, emb, seed_of))
        for c in nonempty:
            manifest[c] = (seed_of[c], *stats[c])
    return {
        "affected_cells": len(affected),
        "deleted": sum(n_del_of.values()),
        "emptied_cells": emptied,
        "reseeded_cells": sorted(new_seed_of),
        "epoch": _publish(spark, root, ep, manifest, path_of, survivors),
    }


def publish_ingest(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    *,
    batch: DataFrame,
    label: str | None = None,
) -> dict:
    """INGEST as a snapshot transition. New vectors (vec_id, label,
    embedding; ids must be new — ENFORCED by a semi-join against the
    store, overlap raises) are

      1. assigned to the nearest CURRENT seed (euclidean, ties → min
         cid) — the live model, so ingest stays correct across
         splits/merges/erasures;
      2. SQ8-encoded with the same per-vector projection the builder uses
         (sq8_project — codes are cell-independent, stored int8);
      3. appended to exactly their cells: each affected cell gets a new
         file holding its old rows plus its new ones;
      4. folded into the manifest radii as r := max(r_old, round9(max
         batch-member distance)) — max is monotone under round9, so no
         survivor rescan is ever needed.

    An empty batch commits nothing. Cost: O(batch × k) assignment
    (broadcast expression tier — right for micro-batches) + a rewrite of
    the affected cells only.

    ROUND-TRIP property (t24 hash-verifies it): erase-wave → re-ingest of
    the same rows reproduces the original store EXACTLY — same assignment
    rule as the build when seeds are untouched, per-vector codes, and the
    radii max re-extends to the original round-9 value."""
    from ..functions import vector as V
    from ..operators.similarity import sq8_project

    root = _pub_root(spark, sf_dir, n_centroids, label)
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, label=label)
    path_of = {cid: p for cid, _s, _r, _n, p in rows}
    manifest = {cid: (s, r, n) for cid, s, r, n, _p in rows}
    seeds = _seed_frame(
        spark,
        load_tables(spark, sf_dir)["embeddings"],
        {cid: s for cid, (s, _r, _n) in manifest.items()},
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    assigned = (
        batch.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            "label",
            "embedding",
            "cid",
            V.euclidean_distance("embedding", "ce").alias("d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .localCheckpoint(eager=True)  # one assignment pass feeds 3 reads
    )
    per_cell = {
        int(r.cid): (float(r.dm), int(r.n))
        for r in assigned.groupBy("cid")
        .agg(
            (F.round(F.max("d"), 9) + F.lit(0.0)).alias("dm"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    if not per_cell:
        return {"ingested": 0, "affected_cells": [], "epoch": ep}
    # 'ids must be new' is a CONTRACT, not a hope: a batch reusing a live
    # vec_id would silently append a duplicate id (possibly into a
    # different cell than the existing row), breaking the served-read /
    # round-trip guarantees without tripping any invariant
    dup_ids = [
        int(r.vec_id)
        for r in assigned.join(
            _read_cells(spark, root, list(path_of.values())).select("vec_id"),
            "vec_id",
            "left_semi",
        )
        .select("vec_id")
        .limit(8)
        .collect()
    ]
    if dup_ids:
        raise ValueError(
            f"publish_ingest: batch vec_ids already live in {root} "
            f"(sample {dup_ids}); erase them first (publish_delete) or "
            "dedupe the batch"
        )
    affected = sorted(per_cell)
    enc = sq8_project(assigned).select(
        "vec_id",
        "label",
        "scale",
        F.col("codes").cast("array<tinyint>").alias("codes"),
        "cid",
    )
    existing = _read_cells(spark, root, [path_of[c] for c in affected])
    for c, (dm, n_new) in per_cell.items():
        seed, r_cell, n_vecs = manifest[c]
        manifest[c] = (seed, max(r_cell, dm), n_vecs + n_new)
    return {
        "ingested": sum(n for _dm, n in per_cell.values()),
        "affected_cells": affected,
        "epoch": _publish(
            spark, root, ep, manifest, path_of,
            existing.unionByName(enc),
        ),
    }


def recipe_root(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int,
    label: str,
    final_epoch: int,
    build,
) -> int:
    """Build-once-serve-many for a deterministic recipe on its own root:
    reused when `final_epoch` is committed (committed snapshots are
    complete by construction, whichever process wrote them); otherwise
    the root is cleared, epoch 1 published, and `build()` runs the
    recipe's writes. A write that changed nothing commits no epoch, so
    the recipe's last snapshot is carried forward up to `final_epoch`:
    the reuse test stays one listing. Returns `final_epoch`."""
    if final_epoch in published_epochs(spark, sf_dir, n_centroids, label=label):
        return final_epoch
    root = _pub_root(spark, sf_dir, n_centroids, label)
    _delete(spark, root, recursive=True)
    publish_init(spark, sf_dir, n_centroids, label=label)
    build()
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, label=label)
    assert ep <= final_epoch, (label, ep, final_epoch)
    for e in range(ep + 1, final_epoch + 1):
        _commit_snapshot(spark, root, e, rows)
    return final_epoch


def published_invariants(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    epoch: int | None = None,
    *,
    label: str | None = None,
) -> dict:
    """The invariants a published snapshot must satisfy after ANY
    sequence of writes, audited against the files it references:

      paths_exist       — every manifest path exists
      counts_match      — the files hold exactly the manifest's n_vecs
      no_empty_cells    — every manifest cell has ≥1 stored member
      seeds_are_members — every seed_vec_id is a live member of its own
                          cell (a dangling seed means an erased or
                          mis-moved id is still load-bearing model state)
      radii_tight       — r_cell == max member distance to the cell's
                          seed (recomputed from the source, round-9)

    One file per cell holds by construction (a manifest row names one
    file). Audit-tool cost (reads every referenced file); never on a
    serving path."""
    ep, rows = resolve_snapshot(spark, sf_dir, n_centroids, epoch, label=label)
    root = _pub_root(spark, sf_dir, n_centroids, label)
    emb = load_tables(spark, sf_dir)["embeddings"]
    fs, jvm = _fs(spark, root)
    paths_exist = all(
        fs.exists(jvm.org.apache.hadoop.fs.Path(os.path.join(root, p)))
        for _c, _s, _r, _n, p in rows
    )
    store = _read_cells(spark, root, [p for *_x, p in rows])
    seed_of = {c: s for c, s, _r, _n, _p in rows}
    dangling = (
        _id_frame(spark, ("cid", "vec_id"), seed_of.items())
        .join(store.select("cid", "vec_id"), ["cid", "vec_id"], "left_anti")
        .count()
    )
    occ = {
        int(r.cid): int(r.n)
        for r in store.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stats = _cell_stats(emb, store, _seed_frame(spark, emb, seed_of))
    return {
        "epoch": ep,
        "paths_exist": paths_exist,
        "counts_match": occ == {c: n for c, _s, _r, n, _p in rows},
        "no_empty_cells": all(occ.get(c, 0) > 0 for c in seed_of),
        "seeds_are_members": dangling == 0,
        "radii_tight": all(
            abs(stats.get(c, (-1.0, 0))[0] - r) < 1e-9 for c, _s, r, _n, _p in rows
        ),
        "n_cells": len(rows),
        "n_rows": sum(occ.values()),
    }


def sweep_published(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = IVF_N_CENTROIDS,
    keep_epochs: int = 2,
    min_age_sec: float = 6 * 3600,
    *,
    label: str | None = None,
) -> dict:
    """Garbage-collect a published root: drop snapshots older than the
    newest `keep_epochs`, then delete cell files referenced by NO
    retained snapshot and stage dirs abandoned by crashes — both only
    when older than `min_age_sec` (readers may still be streaming a
    just-expired epoch's files; age is the grace period). Retained
    epochs keep every file they reference, so anything a live reader can
    resolve stays fully servable."""
    import time as _time

    root = _pub_root(spark, sf_dir, n_centroids, label)
    eps = published_epochs(spark, sf_dir, n_centroids, label=label)
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
        _e, rows = resolve_snapshot(spark, sf_dir, n_centroids, ep, label=label)
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
