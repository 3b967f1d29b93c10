"""Incremental refresh (CDC-lite) — SURVEY.md §2.9-T1 / §2.3-J4.

The reference's auto-refresh pipeline (api/v1/endpoints/embed.py:1234-1261):
list the object store, diff against the processed-files map
(oci/bucket.py:151-181 — new = not in map, modified = etag/mtime differ),
re-chunk changed files, DELETE stale chunks, anti-join INSERT new ones
(embed/vector_store.py:239-257).

Here the "object listing" snapshots are derived deterministically from the
`events` table (user_id ≈ object name, ts ≈ mtime, value ≈ size): the first
20 days of events are the processed state, the full month is the current
listing. The diff join is a full-outer on the key with per-side aggregates —
one shuffle, output-sized result; at 100 TB the snapshots are
bucket-partitioned by key so the diff is co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import shared_persist

SNAPSHOT_CUTOFF = "2024-01-21 00:00:00"


def _listing(ev: DataFrame) -> DataFrame:
    """Aggregate raw events into an object listing: one row per object with
    mtime = max(ts) and etag ≈ count of touches (deterministic proxy)."""
    return ev.groupBy(F.col("user_id").alias("obj_key")).agg(
        F.max("ts").alias("mtime"),
        F.count(F.lit(1)).alias("etag"),
        F.round(F.sum("value"), 4).alias("size"),
    )


def detect_changed_objects(t: dict[str, DataFrame]) -> DataFrame:
    """J4: change-detection diff join. Classifies every current object as
    new (absent from processed), modified (etag/mtime differ) or unchanged
    — the exact decision table of oci/bucket.py:151-181."""
    ev = t["events"]
    cutoff = F.to_timestamp(F.lit(SNAPSHOT_CUTOFF))
    processed = _listing(ev.filter(F.col("ts") < cutoff))
    current = _listing(ev)

    p = processed.select(
        F.col("obj_key"),
        F.col("mtime").alias("p_mtime"),
        F.col("etag").alias("p_etag"),
    )
    joined = current.join(p, "obj_key", "left")
    status = (
        F.when(F.col("p_etag").isNull(), "new")
        .when(
            (F.col("etag") != F.col("p_etag")) | (F.col("mtime") != F.col("p_mtime")),
            "modified",
        )
        .otherwise("unchanged")
    )
    return joined.select("obj_key", "etag", "size", status.alias("status"))


def changed_objects_union(t: dict[str, DataFrame]) -> DataFrame:
    """U3: `changed = new_objects + modified_objects` — the concat the
    refresh orchestration performs before re-chunking
    (api/v1/endpoints/embed.py:1234-1235). Row order is irrelevant to the
    result (a set of changed objects), so the union of two branches is
    expressed as one IN-filter over a single diff-join scan — the logical
    plan genuinely contains detect_changed_objects once."""
    ch = detect_changed_objects(t)
    return ch.filter(F.col("status").isin("new", "modified"))


def incremental_refresh(t: dict[str, DataFrame]) -> DataFrame:
    """T1: apply the diff — changed (new+modified) objects replace their
    stale rows: DELETE stale chunks for modified keys + anti-join INSERT
    (vector_store.py:239-257). Materialized as the post-refresh store state
    aggregated per status so the result is order-free and verifiable.

    At scale this is a partition-overwrite (`replaceWhere` on the key
    partitions) or a Delta MERGE; the observable result is identical.
    """
    changes = detect_changed_objects(t)
    # post-refresh state: unchanged rows keep their processed etag; changed
    # rows carry the current one. Aggregate per status for a stable result.
    return changes.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("etag").alias("total_etag"),
        F.round(F.sum("size"), 4).alias("total_size"),
    )


def incremental_rollup(t: dict[str, DataFrame], cutoff: int = 50_000) -> DataFrame:
    """T9 (beyond the reference): incremental materialized-view maintenance
    — the lakehouse pattern the reference's full-recompute refresh lacks
    (its refresh re-runs the whole pipeline, embed/refresh.py:28-143).

    The rollup R = events → groupBy(hour, event_type) → (count, value_sum)
    is maintained from a delta batch WITHOUT rescanning history: counts and
    DECIMAL sums are mergeable partial aggregates, so
    R_new = merge(R_old, rollup(delta)) — a groupBy over the union of
    partials that sums them. Here R_old is recomputed from the < cutoff
    half to make the query self-contained; in production R_old is the
    STORED rollup (group-count-sized, not event-count-sized) and only the
    delta is scanned — maintaining a 100 TB corpus's rollup costs
    O(delta + groups).

    The merged result is BIT-identical to the full recompute (decimal
    addition is associative, unlike double), which is exactly what the
    oracle asserts: the incremental path vs DuckDB's one-shot GROUP BY.
    The always-on form of the same rollup is the st6 streaming tumbling
    aggregation (streaming/event_stream.windowed_counts): watermarked
    state replaces the stored-partials merge when the delta is a stream."""
    from ..tables import normalize_event_ts

    ev = normalize_event_ts(t["events"])
    dec = F.col("value").cast("decimal(18,6)")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec).alias("value_sum"),
        )

    materialized = rollup(ev.filter(F.col("event_id") < cutoff))
    delta = rollup(ev.filter(F.col("event_id") >= cutoff))
    return (
        materialized.unionByName(delta)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("value_sum"), 4).cast("double").alias("value_sum"),
        )
    )


def span_index_refresh(t: dict[str, DataFrame], cutoff: int = 250) -> DataFrame:
    """T10: incremental maintenance of the span-novelty index that st14
    serves from — the dedup-family analog of t9's rollup maintenance.

    The index stat (wh → n_docs, min_doc) is NOT mergeable from stats
    alone (COUNT DISTINCT doesn't merge), so the stored base artifact is
    the distinct (wh, doc_id) PAIR table; stats derive from it. A delta
    batch then costs:

      1. fingerprint the delta docs (delta-sized scan),
      2. affected = delta's distinct fingerprints,
      3. re-derive stats ONLY for affected fingerprints — a left-semi
         restriction of the stored pairs unioned with the delta pairs,
      4. untouched stats pass through via left-anti.

    Nothing outside the affected fingerprints is re-aggregated; history is
    never re-fingerprinted. Here the "stored" side is recomputed from the
    < cutoff half to make the query self-contained; in production both the
    pair table and the stats are stored, and the maintenance cost is
    O(delta + affected), not O(corpus) — the reason an always-on ingest
    can keep novelty scoring current. The result is bit-identical to the
    full recompute, which is exactly what the oracle asserts."""
    from .dedup import span_fingerprints

    docs = t["documents"]
    # eager barriers: both pair tables feed MULTIPLE consumers (stats,
    # affected-set, left-semi restriction) and Catalyst plans each consumer
    # its own scan+explode subtree — measured 10 parquet scans / 0 reused
    # exchanges without the barrier (~15% at sf0.1 where fingerprinting is
    # the floor, but the redundant subtrees re-fingerprint HISTORY, so the
    # waste grows with the corpus while the delta stays small — exactly the
    # wrong asymptote for a maintenance op). The checkpoint also matches
    # the op's semantics: in production these ARE the stored artifacts;
    # materializing them here is the simulation being faithful.
    # r10 (guide §2.4, the t20/t21 tag-the-halves move): the two halves
    # are doc_id-disjoint, so ONE fingerprint pass over the whole corpus
    # tagged with its half, distinct over (is_delta, wh, doc_id), IS both
    # pair tables — one scan+explode+md5 and one barrier replace two
    # sequential eager jobs. Restriction of the tagged distinct to a half
    # equals that half's distinct pair set (doc_id determines the tag),
    # so the stored/delta artifacts are row-identical to before.
    pairs_both = (
        span_fingerprints(docs)
        .withColumn("is_delta", F.col("doc_id") >= F.lit(cutoff))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stored_pairs = pairs_both.filter(~F.col("is_delta")).drop("is_delta")
    delta_pairs = pairs_both.filter(F.col("is_delta")).drop("is_delta")

    def stats(pairs: DataFrame) -> DataFrame:
        return pairs.groupBy("wh").agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )

    stored_stats = stats(stored_pairs)
    affected = delta_pairs.select("wh").distinct()
    untouched = stored_stats.join(affected, "wh", "left_anti")
    recomputed = stats(
        stored_pairs.join(affected, "wh", "left_semi").unionByName(delta_pairs)
    )
    return untouched.unionByName(recomputed)


def _centroid_model(emb: DataFrame, n_centroids: int):
    """(cents, collected rows) for the fixed coarse quantizer — shared by
    t11/t12 so both maintenance ops assign against the identical model."""
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    return cents, cents.collect()  # bounded: the n_centroids-row model


def _cell_aggregate(part: DataFrame, cents, cent_rows, *aggs) -> DataFrame:
    """Shared t11/t12 scaffold: map-only cell assignment (`_assign_cells`) +
    per-cell aggregation over the centroid distance, which is ROUNDED to
    3 decimals BEFORE any aggregate — the v16 dist contract both oracles
    assert; keep the rounding here, in ONE place, so the two ops can
    never drift apart. Aggregates reference the distance as `dc`."""
    from ..functions import vector as V
    from .similarity import _assign_cells

    assigned = _assign_cells(part, cents, rows=cent_rows)
    dist = F.round(V.euclidean_distance("embedding", "ce"), 3) + F.lit(0.0)
    return (
        assigned.join(F.broadcast(cents), "cid")
        .select("cid", dist.alias("dc"))
        .groupBy("cid")
        .agg(*aggs)
    )


def cell_stats_refresh(
    t: dict[str, DataFrame], cutoff: int = 400, n_centroids: int = 16
) -> DataFrame:
    """T11: incremental maintenance of the clustered store's per-cell
    statistics — the write path behind the v16b/v21 serving tiers
    (plans/bucketing.ensure_cell_radii builds them once; this op keeps
    them current as vectors arrive, completing the maintenance family:
    t9 = algebraic rollup, t10 = non-algebraic affected-set, t11 = the
    ANN layout's table statistics).

    Per cell the serving tiers need occupancy (n_vecs — v21's DPP stats)
    and the pruning radius (r_cell = max centroid distance — v16b's
    triangle-inequality bound). Both are ALGEBRAIC aggregates, so the
    update never rescans history:

      1. assign ONLY the delta vectors to the fixed coarse quantizer
         (map-only numpy argmin over the collected centroid model, the
         same `_assign_cells` kernel the read tiers use),
      2. aggregate the delta per cell,
      3. merge with the stored stats: counts add, radii take greatest —
         a full-outer join on cid, n_centroids-sized on both sides.

    The merged result is BIT-identical to the full recompute (max and
    count are associative), which is exactly what the oracle asserts.
    Here the "stored" side is recomputed from the < cutoff half to make
    the query self-contained; in production it is the stored radii table
    and the maintenance cost is O(delta + n_centroids). Distances are
    rounded to 3 decimals BEFORE the max on both engines so the max
    ranges over identical value sets (the v16 dist contract).

    Reference: the engine extension the reference's once-built vector
    store lacks — its refresh re-embeds and rewrites whole files
    (embed/refresh.py:28-143) but never maintains layout statistics."""
    emb = t["embeddings"]
    cents, cent_rows = _centroid_model(emb, n_centroids)

    def stats(part: DataFrame) -> DataFrame:
        return _cell_aggregate(
            part,
            cents,
            cent_rows,
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("dc").alias("r_cell"),
        )

    stored = stats(emb.filter(F.col("vec_id") < cutoff))
    delta = stats(emb.filter(F.col("vec_id") >= cutoff))
    merged = stored.alias("h").join(
        delta.alias("d"), "cid", "full_outer"
    )
    return merged.select(
        F.col("cid").cast("long").alias("cid"),
        (
            F.coalesce(F.col("h.n_vecs"), F.lit(0))
            + F.coalesce(F.col("d.n_vecs"), F.lit(0))
        ).alias("n_vecs"),
        F.greatest(
            F.coalesce(F.col("h.r_cell"), F.lit(float("-inf"))),
            F.coalesce(F.col("d.r_cell"), F.lit(float("-inf"))),
        ).alias("r_cell"),
    )


DRIFT_PSI_THRESHOLD = 0.01  # per-cell PSI contribution; the classic PSI
# rule of thumb flags a variable at 0.1-0.25 TOTAL — a single cell
# contributing 0.01 is the same order of alarm at 16 cells


def drift_monitor(
    t: dict[str, DataFrame], cutoff: int = 400, n_centroids: int = 16
) -> DataFrame:
    """T12: embedding-distribution drift monitoring for the clustered ANN
    store — the read-side twin of t11's stats maintenance. The stored
    population (vec_id < cutoff) and the incoming batch (≥ cutoff) are
    both assigned to the SAME fixed coarse quantizer; per cell the op
    reports occupancy shares, the population-stability-index contribution
    psi_c = (p_new − p_hist)·ln(p_new/p_hist) (add-half smoothed so empty
    cells are defined), the mean-centroid-distance delta, and a drift
    verdict. A drifted cell is the signal to re-run Lloyd rounds (v9) /
    rebuild the cell's PQ codebook (v17) before recall quietly degrades —
    the monitoring loop every production vector store runs.

    Scale shape: identical to t11 — map-only `_assign_cells` assignment
    on both populations, per-cell algebraic aggregates (count, avg), an
    n_centroids-sized full-outer merge, scalar totals broadcast back.
    O(corpus) scan cost, O(n_centroids) state; at steady state the stored
    side comes from the persisted stats table and the cost is
    O(delta + n_centroids).

    Reference: the reference rebuilds its store blind (embed/refresh.py:
    28-143, drop-and-reload); layout-quality monitoring is the engine
    extension that makes incremental maintenance safe to trust."""
    emb = t["embeddings"]
    cents, cent_rows = _centroid_model(emb, n_centroids)
    hist = drift_cell_stats(emb.filter(F.col("vec_id") < cutoff), cents, cent_rows)
    new = drift_cell_stats(emb.filter(F.col("vec_id") >= cutoff), cents, cent_rows)
    return drift_report(hist, new, n_centroids)


def drift_cell_stats(part: DataFrame, cents, cent_rows) -> DataFrame:
    """The (cid, n, md) drift-stat table drift_report consumes — defined
    ONCE so t12's batch sides and st15's streaming head can never drift
    apart on the aggregate spec."""
    return _cell_aggregate(
        part,
        cents,
        cent_rows,
        F.count(F.lit(1)).alias("n"),
        F.avg("dc").alias("md"),
    )


def drift_report(hist: DataFrame, new: DataFrame, n_centroids: int) -> DataFrame:
    """The drift computation over two per-cell (cid, n, md) stats tables —
    shared by t12 (both sides batch) and st15 (the new side streamed into
    the memory sink first): full-outer merge, add-half-smoothed shares,
    per-cell PSI contribution, distance delta, verdict. Everything here is
    n_centroids-sized — both inputs, both scalar totals, the output.

    Both stats tables are persisted here (r10, guide §2.4): each feeds
    TWO consumers (its scalar total and the merge), and without the
    persist Catalyst replays the corpus-half assignment+aggregation
    subtree per consumer — the cached rows are k-sized, the replayed
    subtree is corpus-sized."""
    hist = hist.transform(shared_persist)
    new = new.transform(shared_persist)
    th = hist.select(F.sum("n").alias("th"))
    td = new.select(F.sum("n").alias("td"))
    merged = (
        hist.alias("h")
        .join(new.alias("d"), "cid", "full_outer")
        .crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(td))
    )
    hn = F.coalesce(F.col("h.n"), F.lit(0).cast("long"))
    dn = F.coalesce(F.col("d.n"), F.lit(0).cast("long"))
    smooth_k = float(n_centroids) / 2.0
    ph = (hn + F.lit(0.5)) / (F.col("th") + F.lit(smooth_k))
    pd_ = (dn + F.lit(0.5)) / (F.col("td") + F.lit(smooth_k))
    psi = (pd_ - ph) * F.log(pd_ / ph)
    return merged.select(
        F.col("cid").cast("long").alias("cid"),
        hn.alias("hist_n"),
        dn.alias("new_n"),
        F.round(ph, 4).alias("hist_share"),
        F.round(pd_, 4).alias("new_share"),
        # + 0.0 normalizes -0.0 (the codebase convention at every rounded
        # cross-engine-compared column): equal-but-oppositely-summed
        # deltas round to ±0.0 whose float64 bytes differ in the hash
        (F.round(psi, 6) + F.lit(0.0)).alias("psi"),
        (
            F.round(
                F.coalesce(F.col("d.md"), F.lit(0.0))
                - F.coalesce(F.col("h.md"), F.lit(0.0)),
                4,
            )
            + F.lit(0.0)
        ).alias("dist_delta"),
        (F.round(psi, 6) + F.lit(0.0) > F.lit(DRIFT_PSI_THRESHOLD)).alias("drifted"),
    )


def bloom_index_refresh(t: dict[str, DataFrame], cutoff: int = 250) -> DataFrame:
    """T13: incremental maintenance of the decontamination Bloom bit set
    that d19 gates with and st16 probes at ingest — closing the
    build/serve/maintain loop for the decontamination family the way
    t10/st14 close it for the span index.

    Bloom state is a distinct-union MERGE by design (the reason d19 chose
    a Bloom filter over d12's exact index): when the eval suite grows,
    only the DELTA benchmark docs are shingled and hashed (delta-sized
    text pass), their bits distinct-unioned into the stored set, which
    stays <= 2^20 rows at every suite size. Unlike t10 there is no
    affected-set re-aggregation at all — bit membership is idempotent.
    Emits the refreshed set with provenance (is_new = bit first
    contributed by the delta), the signal an operator reads to decide
    whether downstream re-gating is needed (no new bits == the stored
    verdicts still hold). The oracle recomputes the full set from scratch
    and derives the same flag — merge result must be bit-identical to a
    full rebuild.

    Here the "stored" side is recomputed from the < cutoff half to keep
    the query self-contained; in production the bit table is the stored
    artifact (it is exactly what st16 broadcasts)."""
    from .dedup import _shingle_sets, bloom_bench_bits

    sh = _shingle_sets(t["documents"])
    # production: read the stored bit parquet; simulation: derive it, and
    # checkpoint because it feeds two consumers (union + anti-join probe)
    stored_bits = bloom_bench_bits(
        sh.filter(F.col("doc_id") < cutoff)
    ).localCheckpoint(eager=True)
    delta_bits = bloom_bench_bits(sh.filter(F.col("doc_id") >= cutoff))
    new_bits = delta_bits.join(stored_bits, "bit", "left_anti")
    return stored_bits.select(
        "bit", F.lit(False).alias("is_new")
    ).unionByName(new_bits.select("bit", F.lit(True).alias("is_new")))


def sq8_store_refresh(
    t: dict[str, DataFrame], cutoff: int = 400, n_centroids: int = 16
) -> DataFrame:
    """T14: incremental maintenance of the QUANTIZED clustered store's
    health statistics — completing v24's lifecycle the way t13 completes
    d19's (build v24 / serve v24 / ingest st19 / maintain t14). The store
    rows themselves need no maintenance beyond appending quantized
    deltas (SQ8 is per-vector: no codebook to retrain, unlike PQ); what
    must stay current is the per-cell health table the ingest monitor
    watches (occupancy, worst reconstruction error, scale envelope —
    the re-quantize/split-cell trigger).

    All three statistics are ALGEBRAIC (count adds, max/min take
    greatest/least — and rounding is monotone, so merged rounded maxes
    equal the rounded global max), so the refresh is:

      1. quantize + assign ONLY the delta (map-only, the same
         sq8_cell_stats codepath st19 streams through),
      2. merge with the stored stats via a full-outer join on cid —
         n_centroids rows on both sides.

    The merge is BIT-identical to the full recompute, which is exactly
    what the shared st19 oracle asserts. Maintenance cost:
    O(delta + n_centroids), the t11 shape, measured near-flat there.
    Reference: the reference rebuilds its whole store on refresh
    (embed/refresh.py:28-143); a 100 TB quantized store maintains table
    statistics incrementally or not at all."""
    from .similarity import sq8_cell_stats

    emb = t["embeddings"]
    cents, cent_rows = _centroid_model(emb, n_centroids)
    stored = sq8_cell_stats(emb.filter(F.col("vec_id") < cutoff), cents, rows=cent_rows)
    delta = sq8_cell_stats(emb.filter(F.col("vec_id") >= cutoff), cents, rows=cent_rows)
    return sq8_stats_merge(stored, delta)


def sq8_stats_merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """The t14 algebraic merge on its own: full-outer join of two
    sq8_cell_stats tables (n_centroids rows each) — counts add, extrema
    take greatest/least. Factored out so the million-vector probe
    (tools/million_probe.py) can time the PRODUCTION shape — stored stats
    read from a table, only the delta quantized — with the exact
    expression t14's oracle verifies."""
    merged = stored.alias("h").join(delta.alias("d"), "cid", "full_outer")
    return merged.select(
        F.col("cid").cast("long").alias("cid"),
        (
            F.coalesce(F.col("h.n_vecs"), F.lit(0).cast("long"))
            + F.coalesce(F.col("d.n_vecs"), F.lit(0).cast("long"))
        ).cast("long").alias("n_vecs"),
        (F.greatest(F.col("h.max_qerr"), F.col("d.max_qerr")) + F.lit(0.0)).alias(
            "max_qerr"
        ),
        (F.greatest(F.col("h.max_scale"), F.col("d.max_scale")) + F.lit(0.0)).alias(
            "max_scale"
        ),
        (F.least(F.col("h.min_scale"), F.col("d.min_scale")) + F.lit(0.0)).alias(
            "min_scale"
        ),
    )


def cell_split_repair(
    t: dict[str, DataFrame],
    n_centroids: int = 16,
    hot_num: int = 11,
    hot_den: int = 10,
) -> DataFrame:
    """T15: hot-cell SPLIT repair — the action behind the trigger t14's
    health stats watch (refresh.py sq8_store_refresh: "the
    re-quantize/split-cell trigger"). Cells whose occupancy exceeds
    hot_num/hot_den × the average are split in two with a deterministic,
    iteration-free 2-seeding: seed A = the cell's min-vec_id member,
    seed B = the member farthest from A (ties → min vec_id), members
    reassign to the nearer seed (ties → A). Output is the repaired
    sub-cell geometry — (cid, seed_vec_id, n_vecs, r_sub) — the rows a
    store maintainer would write back as new cells + radii.

    Determinism is the whole design: no k-means iterations, no RNG, ties
    totally ordered — so the DuckDB oracle reproduces the split
    bit-for-bit and the repair is hash-verified like any query (the
    d3c/v22 move applied to a WRITE-path action). Fixture thresholds
    (1.1× average, k=16) keep every scale's hot set non-empty; production
    runs the same op with the t14-monitored occupancy cap (e.g. 2× the
    SEMDEDUP_CELL_TARGET occupancy the auto-k aims at).

    Scale shape: occupancy is a k-row aggregate off the (checkpointed)
    assignment; everything downstream — seeds, distances, reassignment —
    touches ONLY hot-cell members (on a clustered store that read is
    partition-pruned to the hot cells), and every join is against a
    broadcast k- or 2k-row model table. Cost: O(hot members · d + k),
    never O(corpus) past the occupancy scan — the repair is cheaper than
    the rebuild it replaces (the reference rebuilds the whole store,
    embed/refresh.py:28-143)."""
    from .similarity import _ivf_assign

    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    assigned = assigned.select("vec_id", "cid", "embedding").localCheckpoint(
        eager=False
    )  # feeds occupancy AND member reads — one assignment pass
    occ = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = occ.agg(F.sum("n_vecs").alias("n_total"))
    # exact integer threshold: n_vecs > (hot_num/hot_den)·(n_total/k)
    hot = (
        occ.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n_vecs") * hot_den * n_centroids
            > F.lit(hot_num) * F.col("n_total")
        )
        .select(F.col("cid").alias("h_cid"))
    )
    members = assigned.join(
        F.broadcast(hot), F.col("cid") == F.col("h_cid")
    ).select("vec_id", "cid", "embedding")

    sub = split_member_assign(members)
    return (
        sub.groupBy("cid", "seed_vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (F.round(F.max("d_sub"), 3) + F.lit(0.0)).alias("r_sub"),
        )
        .orderBy("cid", "seed_vec_id")
    )


def split_member_assign(members: DataFrame) -> DataFrame:
    """t15's deterministic 2-seed split at MEMBER granularity — ONE home
    for the seed/reassignment math so the analysis form (cell_split_repair,
    above) and the applied store mutation (plans/published.py
    publish_repair) can never drift. Input: (vec_id, cid, embedding)
    rows of the hot cells. Output one row per member:
    (cid, vec_id, a_vec, b_vec, seed_vec_id, d_sub) where seed A = the
    cell's min-vec_id member, seed B = the member farthest from A (ties →
    min vec_id), and seed_vec_id is the nearer of the two (ties → A)."""
    scored = _split_scored(members)
    return scored.select(
        "cid",
        "vec_id",
        "a_vec",
        "b_vec",
        F.when(F.col("dist_a") <= F.col("dist_b"), F.col("a_vec"))
        .otherwise(F.col("b_vec"))
        .alias("seed_vec_id"),
        F.when(F.col("dist_a") <= F.col("dist_b"), F.col("dist_a"))
        .otherwise(F.col("dist_b"))
        .alias("d_sub"),
    )


def split_member_assign_balanced(members: DataFrame) -> DataFrame:
    """The BALANCED variant the applied maintenance loop uses: same two
    seeds as split_member_assign, but members are assigned by MEDIAN CUT —
    rank by (distance to seed A asc, vec_id asc); ranks <= ceil(n/2) go to
    A, the rest to B — so the halves are exactly ceil(n/2)/floor(n/2).

    Why it exists: nearest-seed assignment can be arbitrarily unbalanced
    (seed B is the FARTHEST member — often an outlier that captures almost
    nothing; measured at sf0.001 a 42-row hot cell split 38+4, the 4-row
    half fell below the cold bar and the next cycle merged it straight
    back into its sibling, re-creating the hot cell: a split↔merge
    ping-pong). With the median cut each half is ~n/2, so with the
    hot >= 2x cold hysteresis no split output can enter the cold band and
    the repair loop provably converges (see published_repair_plan). Same
    output schema; deterministic and SQL-replayable (ROW_NUMBER + count).
    """
    scored = _split_scored(members)
    # Seed B must land in the B-half even when > floor(n/2) members tie at
    # the max distance (duplicate embeddings): rank B LAST within its
    # dist_a tie group (False < True, so the b_vec flag sorts it after its
    # peers → rank n → B-half), otherwise publish_repair would write a
    # B-cell whose geometry seed is not a member. The a_vec != b_vec guard
    # keeps the degenerate all-identical cell (where seed B resolves to
    # seed A) on the legacy ordering so seed A still ranks 1.
    b_last = (F.col("vec_id") == F.col("b_vec")) & (
        F.col("b_vec") != F.col("a_vec")
    )
    w = Window.partitionBy("cid").orderBy(
        F.asc("dist_a"), F.asc(b_last), F.asc("vec_id")
    )
    n = Window.partitionBy("cid")
    ranked = scored.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_cell", F.count(F.lit(1)).over(n)
    )
    in_a = F.col("rnk") * 2 <= F.col("n_cell") + 1  # rnk <= ceil(n/2)
    return ranked.select(
        "cid",
        "vec_id",
        "a_vec",
        "b_vec",
        F.when(in_a, F.col("a_vec")).otherwise(F.col("b_vec")).alias(
            "seed_vec_id"
        ),
        F.when(in_a, F.col("dist_a")).otherwise(F.col("dist_b")).alias("d_sub"),
    )


def _split_scored(members: DataFrame) -> DataFrame:
    """Shared seed derivation for the two split assigners: per member
    (cid, vec_id, a_vec, b_vec, dist_a, dist_b) with seed A = min-vec_id
    member, seed B = farthest-from-A member (ties → min vec_id)."""
    from ..functions import vector as V

    seed_a = members.groupBy(F.col("cid").alias("a_cid")).agg(
        F.min("vec_id").alias("a_vec")
    )
    seed_a_e = members.join(
        F.broadcast(seed_a),
        (F.col("cid") == F.col("a_cid")) & (F.col("vec_id") == F.col("a_vec")),
    ).select("a_cid", "a_vec", F.col("embedding").alias("a_emb"))

    da = members.join(F.broadcast(seed_a_e), F.col("cid") == F.col("a_cid")).select(
        "cid",
        "vec_id",
        "embedding",
        "a_vec",
        V.euclidean_distance("embedding", "a_emb").alias("dist_a"),
    )
    w_far = Window.partitionBy("cid").orderBy(F.desc("dist_a"), F.asc("vec_id"))
    seed_b_e = (
        da.withColumn("rn", F.row_number().over(w_far))
        .filter(F.col("rn") == 1)
        .select(
            F.col("cid").alias("b_cid"),
            F.col("vec_id").alias("b_vec"),
            F.col("embedding").alias("b_emb"),
        )
    )
    return da.join(F.broadcast(seed_b_e), F.col("cid") == F.col("b_cid")).select(
        "cid",
        "vec_id",
        "a_vec",
        "b_vec",
        "dist_a",
        V.euclidean_distance("embedding", "b_emb").alias("dist_b"),
    )


def store_delete_repair(
    t: dict[str, DataFrame],
    n_centroids: int = 16,
    del_mod: int = 41,
    del_rem: int = 5,
) -> DataFrame:
    """T16: delete propagation through the clustered store — the
    right-to-be-forgotten path (GDPR/CCPA erasure, retraction of
    poisoned/contaminated vectors). Input is a delete list of vec_ids
    (here the deterministic fixture set vec_id % del_mod == del_rem; in
    production the erasure queue); output is the per-AFFECTED-cell repair
    record a store maintainer writes back: surviving count and the
    re-tightened pruning radius — exactly the statistics v24/v25's probe
    math reads, so serving stays correct the moment the rewrite lands.

    Scale shape, in production order:
      1. resolve deletes → cells: the delete list BROADCASTS (erasure
         batches are tiny against the corpus) into a map-only semi-probe
         of the store's (vec_id, cid) columns — no corpus shuffle; on the
         cid-partitioned layout the subsequent member read is a literal
         partition filter over |affected| cells.
      2. rewrite: anti-join survivors within affected partitions only —
         cost O(affected members), never O(corpus). Cells the list never
         touched are not read, not rewritten, and keep their stats.
      3. stats: r_cell is a MAX, which is NOT decrement-algebraic (unlike
         t14's merge direction: maxes merge up but never down), so the
         radius must re-aggregate — but only over affected-cell
         survivors, which step 1 already bounded. A fully-emptied cell
         reports r_cell_after = 0.0 (nothing left to prune against).
    The reference rebuilds its whole store on any mutation
    (embed/refresh.py:28-143); at 100 TB erasure must be
    partition-pruned or it cannot be honored at all.

    Deterministic delete set + deterministic assignment ⇒ the DuckDB
    oracle reproduces counts and radii bit-for-bit (the t15 move: a
    WRITE-path action verified like a query)."""
    from ..functions import vector as V
    from .similarity import _ivf_assign

    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    flagged = assigned.select(
        "vec_id",
        "cid",
        "embedding",
        (F.col("vec_id") % del_mod == del_rem).alias("is_del"),
    ).localCheckpoint(eager=False)  # feeds affected-set AND member reads
    affected = (
        flagged.filter(F.col("is_del"))
        .select(F.col("cid").alias("a_cid"))
        .distinct()
    )
    members = flagged.join(
        F.broadcast(affected), F.col("cid") == F.col("a_cid")
    ).drop("a_cid")
    dist = members.join(
        F.broadcast(cents.select(F.col("cid").alias("c_cid"), "ce")),
        F.col("cid") == F.col("c_cid"),
    ).select(
        "cid",
        "is_del",
        V.euclidean_distance("embedding", "ce").alias("dc"),
    )
    return _delete_repair_stats(dist)


def _delete_repair_stats(dist: DataFrame) -> DataFrame:
    """t16's per-affected-cell aggregate — ONE home for the self-contained
    form (above) and the stored-layout production form (below) so the two
    can never drift: counts reconcile by construction, the re-tightened
    radius ranges over survivors only, a fully-emptied cell reports 0.0."""
    return dist.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        F.sum(F.when(F.col("is_del"), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(F.col("is_del"), 0).otherwise(1))
        .cast("long")
        .alias("n_after"),
        F.coalesce(
            F.round(F.max(F.when(~F.col("is_del"), F.col("dc"))), 9),
            F.lit(0.0),
        ).alias("r_cell_after"),
    )


def store_delete_repair_stored(
    spark,
    sf_dir: str,
    n_centroids: int = 16,
    del_mod: int = 41,
    del_rem: int = 5,
) -> DataFrame:
    """T16b: the PRODUCTION form of t16 — the vec_id→cid map comes from
    the stored quantized clustered layout (no assignment pass at all; the
    store IS the map), raw vectors for the radius re-aggregation come
    from one broadcast-semi-joined pass over the source table, bounded to
    affected-cell members. Identical output to t16 by construction
    (shared _delete_repair_stats; same oracle), so the physical-form pair
    is hash-verified the way v7/v13 and v26/st21 are.

    Cost at 100 TB: resolve deletes→cells = map-only probe of the store's
    (vec_id, cid) columns (partition-column + id only — a metadata-cheap
    scan); member embedding fetch = ONE source scan filtered by a
    BROADCAST of affected-member ids (erasure batches are tiny; the scan
    is map-only, no shuffle); stats = one |affected-members| aggregate.
    The self-contained t16 form pays a full assignment GEMM instead —
    right for ad-hoc analysis, wrong for the erasure queue."""
    from ..functions import vector as V  # noqa: F401 (V used below)
    from ..plans.bucketing import ensure_sq8_clustered_store
    from ..tables import load_tables

    name = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    vmap = spark.table(name).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )
    affected = (
        vmap.filter(F.col("vec_id") % del_mod == del_rem)
        .select(F.col("cid").alias("a_cid"))
        .distinct()
    )
    members = vmap.join(
        F.broadcast(affected), F.col("cid") == F.col("a_cid")
    ).select("vec_id", "cid", (F.col("vec_id") % del_mod == del_rem).alias("is_del"))
    src = load_tables(spark, sf_dir)["embeddings"]
    cents = src.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("c_cid"), F.col("embedding").alias("ce")
    )
    dist = (
        src.join(F.broadcast(members), "vec_id")
        .join(F.broadcast(cents), F.col("cid") == F.col("c_cid"))
        .select("cid", "is_del", V.euclidean_distance("embedding", "ce").alias("dc"))
    )
    return _delete_repair_stats(dist)


def cell_merge_repair(
    t: dict[str, DataFrame],
    n_centroids: int = 16,
    cold_num: int = 9,
    cold_den: int = 10,
) -> DataFrame:
    """T17: cold-cell MERGE repair — the inverse of t15's hot-cell split,
    completing the store-geometry repair pair: cells whose occupancy
    falls below cold_num/cold_den × average (fragmented by deletes/t16,
    drift, or an over-eager split) merge into their nearest NON-cold
    neighbor cell. Tiny cells are pure overhead on a partitioned store:
    per-cell file/metadata cost is constant, probe math pays k regardless
    of occupancy, and a near-empty partition wastes a scan task.

    Deterministic by the t15 rules: the cold threshold is an exact
    integer compare (n·den·k < num·total), the merge target is the
    nearest non-cold centroid by euclidean (ties → min cid), and the
    reported post-merge radius is the max distance of the union
    (cold members ∪ target members) to the TARGET's centroid — so the
    DuckDB oracle reproduces the whole repair bit-for-bit. When several
    cold cells share a target, each row reports its own pairwise merge;
    the maintainer applies them and refreshes stats via t11 (documented
    contract, same as the reference's rebuild-then-restat flow,
    embed/refresh.py:28-143 — which rebuilds everything; this touches
    cold + target members only).

    Scale shape: occupancy is a k-row aggregate off ONE checkpointed
    assignment pass; target selection is k×k over broadcast model rows;
    member reads touch only cold∪target cells (partition-pruned on the
    clustered layout); no corpus-sized term past the assignment scan."""
    from ..functions import vector as V
    from .similarity import _ivf_assign

    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    assigned = assigned.select("vec_id", "cid", "embedding").localCheckpoint(
        eager=False
    )
    occ = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = occ.agg(F.sum("n_vecs").alias("n_total"))
    flagged = occ.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        (
            F.col("n_vecs") * cold_den * n_centroids
            < F.lit(cold_num) * F.col("n_total")
        ).alias("is_cold"),
    )
    pairs = (
        flagged.filter(F.col("is_cold"))
        .select(F.col("cid").alias("cold_cid"), F.col("n_vecs").alias("n_moved"))
        .join(
            F.broadcast(
                cents.select(F.col("cid").alias("cc"), F.col("ce").alias("cold_ce"))
            ),
            F.col("cold_cid") == F.col("cc"),
        )
        .crossJoin(
            F.broadcast(
                flagged.filter(~F.col("is_cold"))
                .select(F.col("cid").alias("tgt_cid"))
                .join(
                    cents.select(F.col("cid").alias("tc"), F.col("ce").alias("tgt_ce")),
                    F.col("tgt_cid") == F.col("tc"),
                )
            )
        )
        .select(
            "cold_cid",
            "n_moved",
            "tgt_cid",
            "tgt_ce",
            V.euclidean_distance("cold_ce", "tgt_ce").alias("cdist"),
        )
    )
    w_t = Window.partitionBy("cold_cid").orderBy(F.asc("cdist"), F.asc("tgt_cid"))
    chosen = (
        pairs.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") == 1)
        .select("cold_cid", "n_moved", "tgt_cid", "tgt_ce")
    )
    # members of cold ∪ target cells only — partition-pruned at scale
    members = assigned.join(
        F.broadcast(chosen),
        (F.col("cid") == F.col("cold_cid")) | (F.col("cid") == F.col("tgt_cid")),
    ).select(
        "cold_cid",
        "n_moved",
        "tgt_cid",
        V.euclidean_distance("embedding", "tgt_ce").alias("dt"),
    )
    return members.groupBy("cold_cid", "tgt_cid").agg(
        F.max("n_moved").cast("long").alias("n_moved"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        (F.round(F.max("dt"), 9) + F.lit(0.0)).alias("r_target_after"),
    )


def repair_plan(
    t: dict[str, DataFrame],
    n_centroids: int = 16,
    hot_num: int = 11,
    hot_den: int = 10,
    cold_num: int = 9,
    cold_den: int = 10,
) -> DataFrame:
    """T19: the maintenance DECISION table — closing the loop between the
    detector (t14's health stats) and the executors (t15 split / t17
    merge / plans/published.py publish_repair): one row per cell with the
    action a maintainer should take this cycle.

        action = 'split'  if occupancy > hot_num/hot_den x average
                 'merge'  if occupancy < cold_num/cold_den x average
                          (tgt_cid = nearest non-cold cell, t17's rule)
                 'keep'   otherwise (tgt_cid = -1; -1 not NULL so the
                          column stays non-nullable cross-engine)

    Entirely deterministic (exact integer threshold compares, euclidean
    target choice with cid tie-break), so the whole decision table is
    hash-verified against the SQL oracle like any read query — the same
    discipline t15/t17 apply to the repairs themselves. The reference has
    no per-cell maintenance policy (it rebuilds everything on refresh,
    embed/refresh.py:28-143); this is the policy a partitioned store
    needs so rebuilds never happen.

    Scale shape: occupancy is a k-row aggregate off one assignment pass
    (on a clustered store: a metadata-cheap scan of the partition
    column); target choice is k x k over broadcast model rows. Nothing
    downstream touches members at all — deciding is strictly cheaper
    than any repair it schedules."""
    from ..functions import vector as V
    from .similarity import _ivf_assign

    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, n_centroids)
    occ = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = occ.agg(F.sum("n_vecs").alias("n_total"))
    flagged = occ.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        "n_total",
        (
            F.col("n_vecs") * hot_den * n_centroids
            > F.lit(hot_num) * F.col("n_total")
        ).alias("is_hot"),
        (
            F.col("n_vecs") * cold_den * n_centroids
            < F.lit(cold_num) * F.col("n_total")
        ).alias("is_cold"),
    )
    warm = flagged.filter(~F.col("is_cold")).select(
        F.col("cid").alias("tcid")
    ).join(
        F.broadcast(cents.select(F.col("cid").alias("tcid2"), F.col("ce").alias("tce"))),
        F.col("tcid") == F.col("tcid2"),
    )
    w_t = Window.partitionBy("cid").orderBy(F.asc("cdist"), F.asc("tcid"))
    targets = (
        flagged.filter(F.col("is_cold"))
        .join(F.broadcast(cents.select(F.col("cid").alias("ccid2"), "ce")),
              F.col("cid") == F.col("ccid2"))
        .crossJoin(F.broadcast(warm))
        .select(
            "cid",
            "tcid",
            V.euclidean_distance("ce", "tce").alias("cdist"),
        )
        .withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") == 1)
        .select(F.col("cid").alias("m_cid"), F.col("tcid").alias("tgt"))
    )
    return (
        flagged.join(
            F.broadcast(targets), F.col("cid") == F.col("m_cid"), "left"
        )
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (
                F.round(
                    F.col("n_vecs") * n_centroids / F.col("n_total"), 4
                ) + F.lit(0.0)
            ).alias("occupancy_ratio"),
            F.when(F.col("is_hot"), F.lit("split"))
            .when(F.col("is_cold"), F.lit("merge"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            F.coalesce(F.col("tgt"), F.lit(-1)).cast("long").alias("tgt_cid"),
        )
        .orderBy("cid")
    )


def kmv_sketch_refresh(t: dict[str, DataFrame], k: int = 64, cutoff: int = 250) -> DataFrame:
    """T20: KMV sketch MAINTENANCE — the sketch family's missing verb
    (a26 builds, the overlap matrix serves, this maintains): the stored
    corpus synopsis merges with a delta batch's synopsis by the KMV
    union rule — k-smallest of (stored k-list ∪ delta k-list) EQUALS the
    k-smallest over the full corpus, bit-for-bit (any of the true k
    smallest hashes is necessarily in one of the two k-lists; Beyer et
    al., SIGMOD 2007 §4) — so the merged sketch, its kth hash, and the
    cardinality estimate are all indistinguishable from a full rebuild,
    which is exactly what sharing a26's oracle verbatim asserts (the
    t14/st19 merged-equals-recomputed pattern).

    Here the stored side is recomputed from the doc_id < cutoff half to
    keep the query self-contained (the t9/t10 convention); in production
    the stored side is a k-row TABLE and the maintenance cost is
    O(delta + k): one delta-sized shingle pass into a per-partition
    top-k, then a 2k-row merge. The exact distinct count rides along as
    the harness's error reference (production drops it)."""
    from ..functions import text as T

    docs = t["documents"]

    # ONE corpus shingle pass (r10, guide §2.4): the stored-half sketch,
    # the delta-half sketch, and the exact error reference all used to
    # explode+md5 the corpus text independently (3 passes, 6 scans in the
    # before-plan). The per-half distinct is equivalent to a single
    # distinct over (is_delta, shingle) — restricting that set to one
    # half IS the half's distinct shingle set — so one persisted pass
    # feeds all three consumers; the exact count is one more distinct
    # over the (small) persisted set, not over the corpus.
    hs = (
        docs.select(
            (F.col("doc_id") >= F.lit(cutoff)).alias("is_delta"),
            F.explode(T.word_shingles(F.col("text"))).alias("sh"),
        )
        .distinct()
        .transform(shared_persist)
    )

    def sketch(half: DataFrame) -> DataFrame:
        # the half-sketches carry the SHINGLE alongside its hash so the
        # merge can dedupe on the value itself: distinct on h alone would
        # collapse two distinct shingles colliding on the 60-bit hash,
        # while a26's full rebuild (the shared oracle) keeps both — the
        # "equals rebuild" claim must hold exactly, not mod 2^-60
        # collisions (advice r8)
        h = (T.hash60(F.col("sh")) / F.lit(float(1 << 60))).alias("h")
        return half.select("sh", h).orderBy(F.asc("h"), F.asc("sh")).limit(k)

    stored = sketch(hs.filter(~F.col("is_delta")))
    delta = sketch(hs.filter(F.col("is_delta")))
    # union rule: distinct on the shingle (the same shingle in both halves
    # is one element) -> k smallest of the <=2k merged rows
    merged = (
        stored.unionByName(delta)
        .distinct()
        .select("h")
        .orderBy(F.asc("h"))
        .limit(k)
    )
    kth = merged.agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("n_kept"))
    exact = (
        hs.select("sh")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return kth.crossJoin(exact).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_kept").cast("long").alias("n_kept"),
        (F.round(F.col("hk"), 9) + F.lit(0.0)).alias("kth_hash"),
        F.when(
            F.col("n_kept") >= k, F.round((F.lit(k - 1)) / F.col("hk"), 3)
        )
        .otherwise(F.col("n_exact").cast("double"))
        .alias("estimate"),
        F.col("n_exact").cast("long").alias("n_exact"),
    )


def cms_sketch_refresh(t: dict[str, DataFrame], cutoff: int = 250) -> DataFrame:
    """T21: Count-Min sketch MAINTENANCE — a27's synopsis is ALGEBRAIC
    (per-cell integer counts), so the stored sketch and a delta batch's
    sketch merge by cell-wise addition, and the merged counters equal the
    full-corpus rebuild exactly (integer sums, order-free). The probe
    finisher (shared with a27/st23 — cms_probe_finisher) then runs
    against the MERGED synopsis and must reproduce a27's table
    bit-for-bit: sharing a27's oracle verbatim asserts precisely that.

    Production shape: the stored side is a 2048-row TABLE; maintaining
    the corpus-wide term-frequency monitor costs one delta-sized token
    pass + a 2048-row sum — O(delta + R·W), never a corpus rescan. The
    probe's exact top-N rides along as the harness's error reference."""
    from ..functions import text as T
    from .misc import CMS_SEEDS, CMS_W, _cms_cells, cms_probe_finisher

    docs = t["documents"]

    # ONE corpus token pass for BOTH half-sketches (r10, guide §2.4): the
    # stored and delta sketches used to explode+hash the corpus text
    # independently; tagging each token with its half and grouping by
    # (is_delta, seed, bucket) yields exactly the two per-half cell
    # tables from a single pass — the maintenance structure (two
    # materialized half-sketches merged by cell-wise addition) is
    # unchanged, only the redundant second text scan is gone.
    halves = (
        docs.select(
            (F.col("doc_id") >= F.lit(cutoff)).alias("is_delta"),
            F.explode(T.words("text")).alias("term"),
        )
        .select("is_delta", _cms_cells(F.col("term"), CMS_SEEDS, CMS_W).alias("sb"))
        .select("is_delta", "sb.seed", "sb.bucket")
        .groupBy("is_delta", "seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = halves.groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    tok = docs.select(F.explode(T.words("text")).alias("term"))
    return cms_probe_finisher(merged, tok)
