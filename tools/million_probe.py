"""Million-vector write-path proof (VERDICT r6 task 2).

The numpy cell-assignment kernel (`_assign_cells`) measured linear in k
to k=2560 in isolation (SCALE.md, "assignment tiers at corpus-scaled k");
this probe COMPOSES it: the full write → maintain → serve loop of the
quantized clustered store at corpus-scaled auto-k, where the retired flat
expression argmin died.

Corpus: the sf0.1 embeddings table (2k vectors, d=64) tiled TILES=512×
with shifted ids and a per-tile dim-0 perturbation → 1,024,000 vectors,
written once to /tmp (never touching /root/testdata). Auto-k follows the
same occupancy rule every auto-k consumer uses (choose_semdedup_k:
~500 vectors/cell) → k = 2048 at 1M — the regime where a flat expression
argmin's O(k) driver literal build plus interpreted-HOF evaluation would
be in the tens of minutes (SCALE.md finding 11).

Timed phases (the lifecycle v24's docstring promises):
  1. store_build   — ensure_sq8_clustered_store at auto-k: numpy GEMM
                     assignment + SQ8 quantization + one repartition(cid)
                     shuffle + partitioned write (one file per cell), and
                     the per-cell radii statistic off the SAME persisted
                     assignment (a standalone radii build measured 173 s
                     at this scale — the whole assignment pass, twice).
  2. radii_build   — ensure_sq8_cell_radii: a table-exists no-op after
                     the fused build (asserted near-zero).
  3. t14_refresh   — the PRODUCTION incremental shape: per-cell stats for
                     a 5% delta + sq8_stats_merge against STORED stats
                     read back from a table (the probe materializes the
                     stored side untimed, exactly what a deployed store
                     has on disk). Must be O(delta + k), not O(corpus).
  4. v24_read      — quantized_clustered_topk at auto-k (n_probe=4 of
                     k cells): driver-resolved probe list → literal
                     partition filter → top-k over int8 codes.
  5. v25_read      — quantized_range_search at auto-k: stored radii prune
                     to the live cells, reconstructed distance on codes.

Run solo: python tools/million_probe.py   (~8-12 min; TILES=n to resize).
Results are recorded in SCALE.md ("million-vector write-path" row).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_optimizer_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/million_probe"
TILES = int(os.environ.get("TILES", "512"))


def build_tile(spark) -> tuple[str, int]:
    out = f"{WORK}/x{TILES}"
    emb_path = f"{out}/embeddings.parquet"
    if not os.path.isdir(emb_path):
        os.makedirs(out, exist_ok=True)
        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        n = emb.count()
        tiles = spark.range(TILES).select(F.col("id").cast("int").alias("tile"))
        big = emb.crossJoin(tiles).select(
            (F.col("vec_id") + F.col("tile").cast("long") * n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: (
                    x + (j == 0).cast("float") * (F.col("tile") * F.lit(1e-3))
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
        big.repartition(64).write.mode("overwrite").parquet(emb_path)
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    n_total = spark.read.parquet(emb_path).count()
    return out, n_total


def main() -> None:
    from ai_optimizer_spark.operators.dedup import choose_semdedup_k
    from ai_optimizer_spark.operators.refresh import (
        _centroid_model,
        sq8_stats_merge,
    )
    from ai_optimizer_spark.operators.similarity import sq8_cell_stats
    from ai_optimizer_spark.plans.bucketing import (
        ensure_sq8_cell_radii,
        ensure_sq8_clustered_store,
        quantized_clustered_topk,
        quantized_range_search,
    )

    spark = get_spark("million-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM warm

    tile, n_total = build_tile(spark)
    k = choose_semdedup_k(n_total)
    res: dict[str, float | int] = {"n_vecs": n_total, "auto_k": k}
    print(f"tile={tile} n_vecs={n_total} auto_k={k}", flush=True)

    # 1. store build (numpy assignment + quantize + clustered write)
    t0 = time.monotonic()
    name = ensure_sq8_clustered_store(spark, tile, n_centroids=k)
    res["store_build_sec"] = round(time.monotonic() - t0, 1)
    stored_rows = spark.table(name).count()
    assert stored_rows == n_total, (stored_rows, n_total)
    print(f"store_build_sec={res['store_build_sec']}", flush=True)

    # 2. stored radii (the v25 pruning statistic, k rows)
    t0 = time.monotonic()
    ensure_sq8_cell_radii(spark, tile, n_centroids=k)
    res["radii_build_sec"] = round(time.monotonic() - t0, 1)
    print(f"radii_build_sec={res['radii_build_sec']}", flush=True)

    # 3. t14 incremental refresh, production shape: stored stats exist as
    # a table (materialized untimed), the timed work is delta + merge
    emb = spark.read.parquet(f"{tile}/embeddings.parquet")
    cents, cent_rows = _centroid_model(emb, k)
    cutoff = int(n_total * 0.95)
    stats_path = f"{WORK}/stored_stats_x{TILES}_k{k}"
    if not os.path.isdir(stats_path):
        sq8_cell_stats(
            emb.filter(F.col("vec_id") < cutoff), cents, rows=cent_rows
        ).write.mode("overwrite").parquet(stats_path)
    t0 = time.monotonic()
    delta = sq8_cell_stats(
        emb.filter(F.col("vec_id") >= cutoff), cents, rows=cent_rows
    )
    merged = sq8_stats_merge(spark.read.parquet(stats_path), delta)
    n_cells = merged.count()
    res["t14_refresh_sec"] = round(time.monotonic() - t0, 1)
    res["t14_cells"] = n_cells
    print(f"t14_refresh_sec={res['t14_refresh_sec']} cells={n_cells}", flush=True)

    # 4. v24 read (cold-ish: new plan each call; the store table is on disk)
    t0 = time.monotonic()
    got = quantized_clustered_topk(
        spark, tile, query_id=777, k=8, n_probe=4, n_centroids=k
    ).collect()
    res["v24_read_sec"] = round(time.monotonic() - t0, 2)
    assert len(got) == 8, len(got)
    print(f"v24_read_sec={res['v24_read_sec']}", flush=True)

    # 5. v25 read (radii already stored — the serving condition)
    t0 = time.monotonic()
    n_range = quantized_range_search(
        spark, tile, query_id=777, n_centroids=k
    ).count()
    res["v25_read_sec"] = round(time.monotonic() - t0, 2)
    res["v25_rows"] = n_range
    print(f"v25_read_sec={res['v25_read_sec']} rows={n_range}", flush=True)

    # 6. residual store build (v27b's layout — same pass shape as the
    # direct store: GEMM assignment + residual projection + clustered
    # write; the comparison number for "by_residual costs nothing extra")
    from ai_optimizer_spark.operators.refresh import store_delete_repair_stored
    from ai_optimizer_spark.plans.bucketing import (
        ensure_residual_sq8_store,
        residual_clustered_topk,
    )

    t0 = time.monotonic()
    ensure_residual_sq8_store(spark, tile, n_centroids=k)
    res["rsq8_store_build_sec"] = round(time.monotonic() - t0, 1)
    print(f"rsq8_store_build_sec={res['rsq8_store_build_sec']}", flush=True)

    # 7. v27b read — the residual tier at auto-k off its stored layout
    t0 = time.monotonic()
    got = residual_clustered_topk(
        spark, tile, query_id=777, k=8, n_probe=4, n_centroids=k
    ).collect()
    res["v27b_read_sec"] = round(time.monotonic() - t0, 2)
    assert len(got) == 8, len(got)
    print(f"v27b_read_sec={res['v27b_read_sec']}", flush=True)

    # 8. t16b erasure — a SPARSE delete batch (~25 ids over 2048 cells):
    # the production shape reads the vec_id→cid map off the store, so the
    # cost must be bounded by affected-cell members, not the corpus
    t0 = time.monotonic()
    rep = store_delete_repair_stored(
        spark, tile, n_centroids=k, del_mod=40961, del_rem=7
    ).collect()
    res["t16b_delete_sec"] = round(time.monotonic() - t0, 2)
    res["t16b_cells"] = len(rep)
    assert all(r.n_before == r.n_deleted + r.n_after for r in rep)
    print(
        f"t16b_delete_sec={res['t16b_delete_sec']} cells={len(rep)}", flush=True
    )

    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
