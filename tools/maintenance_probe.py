"""Million-vector MAINTENANCE-LOOP proof (VERDICT r7 task 7).

tools/million_probe.py proved the write→refresh→serve phases one at a
time; this probe runs the full maintenance CYCLE the t14 trigger drives,
as published snapshot transitions (plans/published.py), on the
1,024,000-vector tile at auto-k=2048 — and asserts the snapshot
invariants survive it:

  1. init          — epoch 1 of a private published root (one file per
                     cell copied from the clustered store)
  2. split_hot     — t15 applied at the production threshold (2x target
                     occupancy, nearest-seed): new files for the hot
                     cells, new cells, radii re-tightened
  3. merge_cold    — t17 applied (cold < 1/4 target): cold cells leave
                     the manifest, targets get the union
  4. erase         — t16b applied (sparse ~25-id wave): new files for the
                     hit cells minus the erased rows
  5. serve         — published_served_topk off the final snapshot
  6. invariants    — paths_exist / counts_match / no_empty_cells /
                     seeds_are_members / radii_tight (the radii check is
                     a deliberate full-corpus verification pass;
                     production runs it as an audit, not per write)

Every phase is timed; the write phases must be bounded by AFFECTED cells
(compare against store_build from tools/million_probe.py — the rebuild
each write replaces). §2 then runs the plan-driven loop to convergence
with erasure and ingest waves in between. Run solo:
python tools/maintenance_probe.py (TILES=n to resize). Results go to
SCALE.md ("maintenance loop" rows).
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_optimizer_spark.session import get_spark  # noqa: E402
from tools.million_probe import build_tile  # noqa: E402

INVARIANTS = (
    "paths_exist", "counts_match", "no_empty_cells", "seeds_are_members", "radii_tight"
)


def main() -> None:
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.dedup import choose_semdedup_k
    from ai_optimizer_spark.plans import published as P
    from ai_optimizer_spark.plans.bucketing import ensure_sq8_clustered_store
    from ai_optimizer_spark.tables import load_tables

    spark = get_spark("maintenance-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    tile, n_total = build_tile(spark)
    k = choose_semdedup_k(n_total)
    label = f"p{uuid.uuid4().hex[:8]}"
    res: dict = {"n_vecs": n_total, "auto_k": k, "label": label}
    print(f"tile={tile} n_vecs={n_total} auto_k={k} label={label}", flush=True)

    ensure_sq8_clustered_store(spark, tile, k)  # the store build, untimed
    t0 = time.monotonic()
    P.publish_init(spark, tile, k, label=label)
    res["init_sec"] = round(time.monotonic() - t0, 1)
    n0 = sum(n for *_x, n, _p in P.resolve_snapshot(spark, tile, k, label=label)[1])
    print(f"init_sec={res['init_sec']} rows={n0}", flush=True)

    t0 = time.monotonic()
    rep = P.publish_repair(spark, tile, k, 2, 1, 0, 1, balanced=False, label=label)
    res["split_sec"] = round(time.monotonic() - t0, 1)
    res["split_hot_cells"] = rep.get("split", {}).get("hot_cells", 0)
    print(f"split_sec={res['split_sec']} hot={res['split_hot_cells']}", flush=True)

    t0 = time.monotonic()
    rep = P.publish_repair(spark, tile, k, 1000, 1, 1, 4, label=label)
    res["merge_sec"] = round(time.monotonic() - t0, 1)
    res["merge_cold_cells"] = rep.get("merge", {}).get("cold_cells", 0)
    print(f"merge_sec={res['merge_sec']} cold={res['merge_cold_cells']}", flush=True)

    t0 = time.monotonic()
    rep = P.publish_delete(spark, tile, k, del_mod=40961, del_rem=7, label=label)
    res["erase_sec"] = round(time.monotonic() - t0, 1)
    res["erased"] = rep.get("deleted", 0)
    res["erase_cells"] = rep.get("affected_cells", 0)
    print(
        f"erase_sec={res['erase_sec']} deleted={res['erased']} "
        f"cells={res['erase_cells']}",
        flush=True,
    )

    t0 = time.monotonic()
    got = P.published_served_topk(spark, tile, 2049, 8, 4, k, label=label).collect()
    res["serve_sec"] = round(time.monotonic() - t0, 2)
    assert len(got) == 8, len(got)
    print(f"serve_sec={res['serve_sec']}", flush=True)

    t0 = time.monotonic()
    inv = P.published_invariants(spark, tile, k, label=label)
    res["invariants_sec"] = round(time.monotonic() - t0, 1)
    res["invariants"] = {key: inv[key] for key in (*INVARIANTS, "n_cells", "n_rows")}
    assert all(inv[key] for key in INVARIANTS), inv
    assert inv["n_rows"] == n0 - res["erased"], (inv["n_rows"], n0, res["erased"])
    print(f"invariants_sec={res['invariants_sec']} -> all green", flush=True)

    # --- plan-driven loop: the cycle DRIVEN BY the decision table, run to
    # convergence on a FRESH root, with interleaved erasure AND ingest
    # waves so cycles 2-3 face the full production drift — ingest →
    # repair → erase → serve. Erase waves share one modulus with distinct
    # remainders, so they are disjoint by construction and each erased
    # wave's ids are provably NEW when re-ingested a cycle later (the
    # ingest guard would trip otherwise — that's the contract working).
    # The policy must converge (final plan all-keep), never oscillate,
    # and the post-maintenance serve must stay within ~1.2x of the fresh
    # store's read.
    loop = f"p{uuid.uuid4().hex[:8]}"
    P.publish_init(spark, tile, k, label=loop)
    res["loop_label"] = loop

    def _serve_best() -> float:
        # min-of-2: single-shot serve timings swing 2-6x in local mode
        # (verify-skill timing note); the claim "post-maintenance serve
        # within ~1.2x of fresh" needs the min, not one sample
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            got = P.published_served_topk(spark, tile, 2049, 8, 4, k, label=loop).collect()
            assert len(got) == 8
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2)

    def _wave(rem: int):
        return load_tables(spark, tile)["embeddings"].filter(
            F.col("vec_id") % 40961 == rem
        ).select("vec_id", "label", "embedding")

    res["serve_fresh_sec"] = _serve_best()
    cycles = []
    pending_rem: int | None = None  # last erased wave, re-ingested next cycle
    net_erased = 0
    for cyc in range(1, 4):
        t0 = time.monotonic()
        rep = P.publish_repair(spark, tile, k, 13, 10, 1, 4, label=loop)
        dt = round(time.monotonic() - t0, 1)
        entry = {
            "cycle": cyc,
            "sec": dt,
            "plan": rep["plan"],
            "skipped_merges": len(rep["skipped_merges"]),
        }
        print(f"loop cycle {cyc}: {dt}s plan={rep['plan']}", flush=True)
        if cyc < 3:
            # drift: erase wave (rem = 10 + cyc, disjoint across cycles)
            t0 = time.monotonic()
            erep = P.publish_delete(
                spark, tile, k, del_mod=40961, del_rem=10 + cyc, label=loop
            )
            entry["erase_sec"] = round(time.monotonic() - t0, 1)
            entry["erased"] = erep.get("deleted", 0)
            net_erased += entry["erased"]
            # drift: re-ingest the PREVIOUS cycle's wave (ids now free)
            if pending_rem is not None:
                t0 = time.monotonic()
                irep = P.publish_ingest(
                    spark, tile, k, batch=_wave(pending_rem), label=loop
                )
                entry["ingest_sec"] = round(time.monotonic() - t0, 1)
                entry["ingested"] = irep["ingested"]
                entry["ingest_cells"] = len(irep["affected_cells"])
                net_erased -= entry["ingested"]
            pending_rem = 10 + cyc
        cycles.append(entry)
    # close the rhythm: the final outstanding wave returns home
    t0 = time.monotonic()
    irep = P.publish_ingest(spark, tile, k, batch=_wave(pending_rem), label=loop)
    res["final_ingest_sec"] = round(time.monotonic() - t0, 1)
    res["final_ingested"] = irep["ingested"]
    net_erased -= irep["ingested"]
    assert net_erased == 0, f"waves must round-trip exactly: {net_erased}"
    res["loop_cycles"] = cycles
    assert (
        cycles[-1]["plan"]["split"] == 0 and cycles[-1]["plan"]["merge"] == 0
    ), f"policy failed to converge: {cycles}"

    res["serve_post_loop_sec"] = _serve_best()
    t0 = time.monotonic()
    inv2 = P.published_invariants(spark, tile, k, label=loop)
    res["loop_invariants_sec"] = round(time.monotonic() - t0, 1)
    res["loop_invariants"] = {
        key: inv2[key] for key in (*INVARIANTS, "n_cells", "n_rows")
    }
    assert all(inv2[key] for key in INVARIANTS), inv2
    assert inv2["n_rows"] == n0, (inv2["n_rows"], n0)
    print(
        f"loop: serve fresh={res['serve_fresh_sec']}s "
        f"post={res['serve_post_loop_sec']}s n_cells={inv2['n_cells']}",
        flush=True,
    )

    print(json.dumps(res), flush=True)

    # drop the private roots (full store copies) so repeated probe runs
    # don't accumulate store copies in the shared warehouse
    for lb in (label, loop):
        P._delete(spark, P._pub_root(spark, tile, k, lb), recursive=True)


if __name__ == "__main__":
    main()
