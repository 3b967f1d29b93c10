"""ANN quality at the million-vector regime (VERDICT r7 task 2).

v28's error/recall harness and v12/v19's curves run at fixture scale
(2k vectors, sparse cells); this probe measures recall@10 and the
quantization error envelope where the approximations actually bind: the
1,024,000-vector tile (tools/million_probe.py) at auto-k=2048, for each
quantized serving tier —

  * v24  — direct-SQ8 clustered store, swept over n_probe
  * v27b — residual-SQ8 clustered store (FAISS by_residual), over n_probe
  * v29b — random-projection prefilter store, swept over coarse_c

Ground truth: exact cosine top-10 per query in ONE BLAS pass (the
knn_self_join kernel: per-Arrow-batch `V @ Qᵀ` + local top-k, merged by
a per-query window), same round-3 + vec_id-asc total order the tiers use.

recall@10  = |served ∩ exact| / 10, averaged over NQ queries.
err_mean/max = |cos_served - cos_exact| over all served rows (the v28
envelope, measured on the tier's own served set).

Run solo: python tools/million_recall.py  (~8-12 min warm tile; TILES=n
to resize, NQ=n for more queries). Results go in SCALE.md ("ANN quality
at 1M" table). Reference anchor for the serving contract being graded:
mcp/tools/vs_retriever.py:264-301 (top-k by cosine, score thresholds).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_optimizer_spark.session import get_spark  # noqa: E402
from tools.million_probe import build_tile  # noqa: E402

K = 10
NQ = int(os.environ.get("NQ", "8"))
PROBES = (1, 2, 4, 8, 16)
COARSE = (50, 100, 200, 400)


def exact_topk(spark, tile: str, q_ids: list[int], k: int = K):
    """One-pass BLAS exact top-k for the query batch (the knn_self_join
    kernel) → {query_id: [(vec_id, cos) ...k]} ground truth."""
    from ai_optimizer_spark.operators.similarity import _matmul_topk

    emb = spark.read.parquet(f"{tile}/embeddings.parquet")
    q_rows = emb.filter(F.col("vec_id").isin(q_ids)).select(
        "vec_id", "embedding"
    ).collect()
    assert len(q_rows) == len(q_ids), (len(q_rows), len(q_ids))
    rows = _matmul_topk(emb, q_rows, k).collect()
    gt: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, -r.cos_sim, r.vec_id)):
        gt.setdefault(int(r.query_id), []).append((int(r.vec_id), float(r.cos_sim)))
    return gt


def exact_pair_sims(spark, tile: str, pairs: list[tuple[int, int]]):
    """Exact cosine for specific (query_id, vec_id) pairs — the error
    envelope's truth side. Bounded by the served set (≤ NQ·K rows)."""
    want = sorted({i for p in pairs for i in p})
    emb = spark.read.parquet(f"{tile}/embeddings.parquet")
    rows = emb.filter(F.col("vec_id").isin(want)).select(
        "vec_id", "embedding"
    ).collect()
    vec = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64) for r in rows}
    out = {}
    for a, b in pairs:
        va, vb = vec[a], vec[b]
        out[(a, b)] = float(
            np.round(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)), 3)
        )
    return out


def grade(spark, tile, gt, served_rows, label: str, res: list):
    """served_rows: list of Row(query_id, vec_id, cos_sim)."""
    by_q: dict[int, list] = {}
    for r in served_rows:
        by_q.setdefault(int(r.query_id), []).append(r)
    recalls = []
    pairs, approx = [], {}
    for qid, truth in gt.items():
        truth_ids = {v for v, _ in truth}
        got = by_q.get(qid, [])
        got_ids = {int(r.vec_id) for r in got}
        recalls.append(len(truth_ids & got_ids) / len(truth_ids))
        for r in got:
            pairs.append((qid, int(r.vec_id)))
            approx[(qid, int(r.vec_id))] = float(r.cos_sim)
    exact = exact_pair_sims(spark, tile, pairs)
    errs = [abs(approx[p] - exact[p]) for p in pairs]
    rec = {
        "tier": label,
        "recall_at_10": round(float(np.mean(recalls)), 4),
        "err_mean": round(float(np.mean(errs)), 5) if errs else None,
        "err_max": round(float(np.max(errs)), 5) if errs else None,
        "served_rows": len(pairs),
    }
    res.append(rec)
    print(json.dumps(rec), flush=True)


def main() -> None:
    from ai_optimizer_spark.operators.dedup import choose_semdedup_k
    from ai_optimizer_spark.plans.bucketing import (
        ensure_residual_sq8_store,
        ensure_rp_store,
        ensure_sq8_clustered_store,
        quantized_knn_serve,
        residual_clustered_topk,
        rp_stored_topk,
    )

    spark = get_spark("million-recall")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    tile, n_total = build_tile(spark)
    kc = choose_semdedup_k(n_total)
    print(f"tile={tile} n_vecs={n_total} auto_k={kc}", flush=True)

    # spread the queries across the id space, away from the centroid ids
    rng = range(NQ)
    q_ids = [int(kc + 1 + i * (n_total - kc - 2) // max(NQ - 1, 1)) for i in rng]
    print(f"q_ids={q_ids}", flush=True)

    t0 = time.monotonic()
    gt = exact_topk(spark, tile, q_ids)
    print(f"exact_gt_sec={time.monotonic() - t0:.1f}", flush=True)

    res: list[dict] = []

    # --- v24: direct SQ8, batched serve, n_probe sweep -------------------
    name = ensure_sq8_clustered_store(spark, tile, kc)
    store = (
        spark.table(name)
        .withColumn("cid", F.col("cid").cast("long"))
        .withColumn("codes", F.col("codes").cast("array<double>"))
    )
    emb = spark.read.parquet(f"{tile}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < kc).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("ce")
    )
    q = emb.filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for n_probe in PROBES:
        t0 = time.monotonic()
        rows = quantized_knn_serve(store, cents, q, K, n_probe).collect()
        dt = time.monotonic() - t0
        grade(spark, tile, gt, rows, f"v24 n_probe={n_probe}", res)
        res[-1]["batch_read_sec"] = round(dt, 1)

    # --- v27b: residual SQ8, per-query serve, n_probe sweep --------------
    from collections import namedtuple

    Served = namedtuple("Served", "query_id vec_id cos_sim")

    ensure_residual_sq8_store(spark, tile, kc)
    for n_probe in PROBES:
        rows = []
        t0 = time.monotonic()
        for qid in q_ids:
            got = residual_clustered_topk(
                spark, tile, query_id=qid, k=K, n_probe=n_probe, n_centroids=kc
            ).collect()
            rows.extend(Served(qid, r.vec_id, r.cos_sim) for r in got)
        dt = time.monotonic() - t0
        grade(spark, tile, gt, rows, f"v27b n_probe={n_probe}", res)
        res[-1]["per_query_read_sec"] = round(dt / NQ, 2)

    # --- v29b: RP prefilter, per-query, coarse_c sweep --------------------
    ensure_rp_store(spark, tile)
    for c in COARSE:
        rows = []
        t0 = time.monotonic()
        for qid in q_ids:
            got = rp_stored_topk(
                spark, tile, query_id=qid, k=K, coarse_c=c
            ).collect()
            rows.extend(Served(qid, r.vec_id, r.cos_sim) for r in got)
        dt = time.monotonic() - t0
        grade(spark, tile, gt, rows, f"v29b coarse_c={c}", res)
        res[-1]["per_query_read_sec"] = round(dt / NQ, 2)

    print(json.dumps({"n_vecs": n_total, "auto_k": kc, "results": res}), flush=True)


if __name__ == "__main__":
    main()
