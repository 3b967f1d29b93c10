"""Late/out-of-order event semantics for the streaming family (VERDICT r3
task #5): what happens when events arrive AFTER the watermark has passed
their event time, asserted against the documented drop/update semantics —
and, where the batch twin differs, the difference itself is asserted.

Mechanics: a file-per-micro-batch feed (maxFilesPerTrigger=1, mtimes force
processing order) so the watermark advances between batches exactly like an
always-on ingest. Spark's watermark propagates at micro-batch boundaries
with a one-batch lag (measured here: a row arriving in the same batch that
finalizes its window still merges before eviction), so each scenario puts a
filler batch between the watermark-advancing event and the late arrival —
the steady-state shape of a real ingest, where lateness spans many batches.

Reference analog: the T2 terminal-write guard's late-finish story
(embed/jobs.py:249-313) — a state update arriving after the terminal state
is sealed is discarded, not applied.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ai_optimizer_spark.streaming.event_stream import (
    session_window_stats,
    windowed_counts,
)

EVENT_SCHEMA = "ts timestamp, event_type string, value double, user_id long, event_id long"


def _ts(h, m=0):
    return datetime(2024, 3, 1, h, m)


def _feed_dir(spark, tmp_path, batches):
    """Write each batch of rows as ONE parquet file with increasing mtimes
    so FileStreamSource (maxFilesPerTrigger=1) processes them in order."""
    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dst = os.path.join(feed, f"batch{i:03d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))
    return feed


def _stream(spark, feed):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def _run_append(spark, plan, name, timeout_sec=120):
    q = (
        plan.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"streaming query {name!r} did not finish")
    return spark.table(name)


@pytest.mark.slow
def test_tumbling_counts_drop_late_events(spark, tmp_path):
    """st6 semantics: an event below the watermark is DROPPED — the
    finalized window holds only on-time events, while the batch twin (which
    sees all rows at once) counts the late row too."""
    b1 = [
        (_ts(10, 15), "A", 1.0, 1, 1),   # window [10:00, 11:00)
        (_ts(13, 30), "A", 1.0, 1, 2),   # advances watermark to 11:30
    ]
    b2 = [
        (_ts(14, 30), "A", 1.0, 1, 4),   # filler: watermark → 12:30
    ]
    b3 = [
        (_ts(10, 30), "A", 5.0, 1, 3),   # LATE: 10:30 < watermark 12:30
        (_ts(14, 45), "A", 1.0, 1, 5),
    ]
    feed = _feed_dir(spark, tmp_path, [b1, b2, b3])
    got = _run_append(
        spark, windowed_counts(_stream(spark, feed)), "late_tumbling"
    ).collect()

    # only window [10:00,11:00) is past the final watermark (12:30); the
    # late event contributed nothing to it
    assert len(got) == 1
    row = got[0]
    assert row.window_start == _ts(10) and row.event_type == "A"
    assert row.n_events == 1 and row.value_sum == 1.0

    # the batch twin has no watermark: same aggregation over the same rows
    # includes the late event — the difference IS the documented semantics
    batch = (
        spark.createDataFrame(b1 + b2 + b3, EVENT_SCHEMA)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("w.start") == _ts(10))
        .collect()
    )
    assert batch[0].n_events == 2


@pytest.mark.slow
def test_session_windows_drop_late_events(spark, tmp_path):
    """st7 semantics: a late event belonging to an already-finalized
    session is dropped — the emitted session keeps its on-time bounds and
    count; the batch sessionizer would have absorbed the event."""
    b1 = [
        (_ts(10, 0), "A", 1.0, 7, 1),
        (_ts(10, 10), "A", 1.0, 7, 2),   # session [10:00, 10:10] (gap 30m)
        (_ts(15, 0), "A", 1.0, 8, 3),    # advances watermark to 13:00
    ]
    b2 = [
        (_ts(15, 5), "A", 1.0, 8, 6),    # filler: watermark applies next batch
    ]
    b3 = [
        (_ts(10, 20), "A", 1.0, 7, 4),   # LATE: would extend u7's session
        (_ts(18, 0), "A", 1.0, 8, 5),    # advances watermark past u8 too
    ]
    feed = _feed_dir(spark, tmp_path, [b1, b2, b3])
    got = {
        r.user_id: r
        for r in _run_append(
            spark, session_window_stats(_stream(spark, feed)), "late_sessions"
        ).collect()
    }

    assert 7 in got
    u7 = got[7]
    assert u7.n_events == 2                      # late event NOT absorbed
    assert u7.session_start == _ts(10, 0)
    assert u7.session_end == _ts(10, 10)         # on-time bound kept

    # batch sessionizer (no watermark) absorbs it: 3 events, end 10:20
    from ai_optimizer_spark.operators.events import sessionize

    batch = sessionize(
        {"events": spark.createDataFrame(b1 + b2 + b3, EVENT_SCHEMA)}
    )
    b7 = batch.filter(F.col("user_id") == 7).collect()[0]
    assert b7.n_events == 3 and b7.session_end == _ts(10, 20)


@pytest.mark.slow
def test_streaming_dedup_drops_watermark_late_first_occurrences(spark, tmp_path):
    """st8 semantics, the sharp edge: dropDuplicatesWithinWatermark drops
    late rows BEFORE the duplicate check, so a late-arriving FIRST
    occurrence is lost entirely — bounded state trades completeness for
    feasibility on an unbounded feed. The batch `distinct` keeps it."""
    from ai_optimizer_spark.streaming.dedup_stream import deduped_events

    b1 = [
        (_ts(10, 0), "A", 1.0, 1, 100),
        (_ts(15, 0), "A", 1.0, 1, 200),  # advances watermark to 13:00
    ]
    b2 = [
        (_ts(15, 5), "A", 1.0, 1, 250),  # filler: watermark applies next batch
    ]
    b3 = [
        (_ts(15, 10), "A", 9.0, 1, 200), # duplicate within watermark → dropped
        (_ts(10, 30), "A", 1.0, 1, 300), # LATE first occurrence → dropped
        (_ts(15, 30), "A", 1.0, 1, 400), # on-time new id → kept
    ]
    feed = _feed_dir(spark, tmp_path, [b1, b2, b3])
    got = _run_append(
        spark, deduped_events(_stream(spark, feed)), "late_dedup"
    ).collect()
    ids = sorted(r.event_id for r in got)
    assert ids == [100, 200, 250, 400]   # 300 lost to lateness, 200 once

    batch_ids = sorted(
        r.event_id
        for r in spark.createDataFrame(b1 + b2 + b3, EVENT_SCHEMA)
        .select("event_id")
        .distinct()
        .collect()
    )
    assert batch_ids == [100, 200, 250, 300, 400]  # batch distinct keeps 300


@pytest.mark.slow
def test_neardup_feed_is_arrival_order_invariant(spark, sf_small, tmp_path):
    """st12 semantics: the near-dup candidate feed is STATELESS per row
    (band keys are a per-row map, the index side is static), so arrival order —
    including 'late' arrivals, which have no meaning without event time —
    cannot change the output. Feed the same docs in forward and reverse
    file order and assert identical candidate sets."""
    from ai_optimizer_spark.operators.dedup import minhash_band_keys
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"].limit(60)
    static_index = minhash_band_keys(docs).select(
        F.col("doc_id").alias("index_doc"), "band", "key"
    )
    half_a = [tuple(r) for r in docs.filter(F.col("doc_id") % 2 == 0).collect()]
    half_b = [tuple(r) for r in docs.filter(F.col("doc_id") % 2 == 1).collect()]
    schema = docs.schema

    results = []
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"feed_{order_name}")
        os.makedirs(feed)
        for i, rows in enumerate(batches):
            stage = str(tmp_path / f"stage_{order_name}_{i}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(feed)
        plan = (
            minhash_band_keys(stream)  # stream side must stay stateless
            .join(static_index, ["band", "key"])
            .filter(F.col("doc_id") != F.col("index_doc"))
            .groupBy(F.col("doc_id").alias("new_doc"), "index_doc")
            .agg(F.count(F.lit(1)).alias("n_band_hits"))
        )
        q = (
            plan.writeStream.format("memory")
            .queryName(f"st12_order_{order_name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results.append(
            {tuple(r) for r in spark.table(f"st12_order_{order_name}").collect()}
        )
    assert results[0] == results[1] and results[0]


@pytest.mark.slow
def test_stream_stream_join_drops_late_matches(spark, tmp_path):
    """st5 semantics: a purchase arriving after the watermark evicted its
    matching view's state produces NO attribution — the stream-stream
    interval join trades late completeness for bounded state; the batch
    twin (self-join over all rows) still finds the pair."""
    from ai_optimizer_spark.streaming.event_stream import (
        attributed_purchases_stream,
    )

    def feed(name, batches):
        d = str(tmp_path / name)
        os.makedirs(d)
        for i, rows in enumerate(batches):
            stage = str(tmp_path / f"{name}_s{i}")
            spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(d, f"b{i:03d}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        return d

    # u1's view at 10:00 is the late-match target; u9 rows advance the
    # watermark and provide an on-time control pair
    views = feed("views", [
        [(_ts(10, 0), "view", 0.0, 1, 10), (_ts(16, 0), "view", 0.0, 9, 11)],
        [(_ts(16, 5), "view", 0.0, 9, 12)],
        [(_ts(16, 20), "view", 0.0, 9, 13)],
    ])
    purchases = feed("purch", [
        [(_ts(16, 1), "purchase", 5.0, 9, 20)],
        [(_ts(16, 6), "purchase", 6.0, 9, 21)],
        # LATE: 10:30 is far below the ~14:00 watermark; its matching view
        # state (u1@10:00, retainable to 11:00+delay) is long evicted
        [(_ts(10, 30), "purchase", 9.0, 1, 22),
         (_ts(16, 25), "purchase", 7.0, 9, 23)],
    ])
    v_stream = _stream(spark, views)
    p_stream = _stream(spark, purchases)
    plan = attributed_purchases_stream(v_stream, p_stream)
    got = _run_append(spark, plan, "late_attribution", timeout_sec=180).collect()

    pairs = {(r.view_id, r.purchase_id) for r in got}
    assert (10, 22) not in pairs          # the late match is LOST
    assert any(v == 11 for v, _ in pairs)  # on-time u9 pairs attributed

    # batch twin (no watermark) still attributes the late pair
    from ai_optimizer_spark.operators.events import attributed_purchases

    all_rows = (
        [(_ts(10, 0), "view", 0.0, 1, 10), (_ts(16, 0), "view", 0.0, 9, 11),
         (_ts(16, 5), "view", 0.0, 9, 12), (_ts(16, 20), "view", 0.0, 9, 13),
         (_ts(16, 1), "purchase", 5.0, 9, 20), (_ts(16, 6), "purchase", 6.0, 9, 21),
         (_ts(10, 30), "purchase", 9.0, 1, 22), (_ts(16, 25), "purchase", 7.0, 9, 23)]
    )
    ev = spark.createDataFrame(all_rows, EVENT_SCHEMA)
    batch = attributed_purchases({"events": ev})
    batch_pairs = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert (10, 22) in batch_pairs


def _assert_streaming_occupancy_converges(spark, sf_small, tmp_path, k, late_mod):
    """Feed the first 200 embeddings to a streaming per-cell occupancy
    rollup over `_assign_cells` with k centroids, as two files (the bulk,
    then the stragglers with vec_id % late_mod == 0), in both arrival
    orders. Per-cell counts must never decrease between micro-batches and
    must converge, in either order, to the batch occupancy (+ id bounds)."""
    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = (
        spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .filter(F.col("vec_id") < 200)
        .localCheckpoint(eager=False)
    )
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )

    def occupancy(df):
        return _assign_cells(df, cents).groupBy("cid").agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )

    truth = {tuple(r) for r in occupancy(emb).collect()}
    # batch 1 = the bulk; batch 2 = stragglers that in a watermarked op
    # would be candidates for dropping — here they must land
    late_ids = {i for i in range(200) if i % late_mod == 0}
    fwd = [
        emb.filter(~F.col("vec_id").isin(*late_ids)),
        emb.filter(F.col("vec_id").isin(*late_ids)),
    ]
    finals = {}
    for order_name, batches in (("fwd", fwd), ("rev", fwd[::-1])):
        feed = str(tmp_path / f"ivf_k{k}_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"ivf_k{k}_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        snapshots = []
        q = (
            occupancy(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(
                lambda bdf, bid: snapshots.append({tuple(r) for r in bdf.collect()})
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        assert len(snapshots) >= 2, (k, order_name)
        # monotone occupancy: no cell's count ever decreases between batches
        counts = [{r[0]: r[1] for r in snap} for snap in snapshots]
        for prev, cur in zip(counts, counts[1:]):
            for cid, n in prev.items():
                assert cur.get(cid, 0) >= n, (k, order_name, cid, prev, cur)
        finals[order_name] = snapshots[-1]

    # arrival order cannot matter, and the converged occupancy (+ id
    # bounds) equals the batch ground truth
    assert finals["fwd"] == finals["rev"] == truth, k


def test_streaming_ivf_assign_occupancy_under_late_arrivals(spark, sf_small, tmp_path):
    """st13 semantics (VERDICT r4 task 7): the streaming ANN ingest has NO
    event-time watermark by design — cell assignment is stateless (the
    coarse quantizer ships in the task closure of the mapInPandas kernel)
    and the only state is the per-cell occupancy counters, which are
    commutative. Documented consequences, asserted here at the fixture
    k=16: (a) a 'late' vector (arriving many batches after its neighbors)
    is never dropped — occupancy is arrival-order INVARIANT and converges
    to the batch ground truth in any order; (b) per-cell counts are
    monotone non-decreasing across micro-batches (counters only absorb,
    never evict)."""
    _assert_streaming_occupancy_converges(spark, sf_small, tmp_path, k=16, late_mod=7)


def test_streaming_ivf_assign_np_tier_late_arrivals(spark, sf_small, tmp_path):
    """st13 at a corpus-scaled k=70: the numpy assignment kernel (one
    GEMM + argmin per Arrow batch) inside a Structured Streaming
    micro-batch with straggler arrivals keeps the same monotone-absorb
    semantics and converges to the batch ground truth in either arrival
    order."""
    _assert_streaming_occupancy_converges(spark, sf_small, tmp_path, k=70, late_mod=9)


def test_span_novelty_is_arrival_order_invariant(spark, sf_small, tmp_path):
    """st14 semantics: span fingerprints are computed statelessly per row
    and the index side is static, so arrival order — including stragglers
    arriving many batches late — cannot change a document's novelty score.
    Feed the same docs forward and reversed; identical results; and a
    straggler batch's scores equal what the same docs score when arriving
    first."""
    from ai_optimizer_spark.operators.dedup import span_fingerprints, span_index
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"].limit(60)
    idx = span_index(docs).localCheckpoint(eager=False)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    schema = docs.schema

    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"nov_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"nov_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        probed = span_fingerprints(stream).join(idx, "wh", "left")
        known = (F.col("n_docs") >= 2) | (
            (F.col("n_docs") == 1) & (F.col("min_doc") != F.col("doc_id"))
        )
        plan = probed.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(known, 1).otherwise(0)).cast("long").alias("n_known"),
        )
        q = (
            plan.writeStream.format("memory")
            .queryName(f"st14_order_{order_name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results[order_name] = {
            tuple(r) for r in spark.table(f"st14_order_{order_name}").collect()
        }
    assert results["fwd"] == results["rev"] and results["fwd"]


def test_streaming_decontamination_multibatch_equals_batch_gate(
    spark, sf_small, tmp_path
):
    """st16 semantics: the Bloom bit set is static and per-shingle bit
    probing is stateless, so the streamed admission verdicts must equal
    the offline d19 gate's bit-for-bit, regardless of how the corpus is
    split across micro-batches or in which order batches arrive."""
    from ai_optimizer_spark.operators.dedup import (
        BLOOM_MIN_OVERLAP,
        DECON_BENCH_MOD,
        bloom_bench_bits,
        bloom_decontamination,
        _shingle_sets,
    )
    from ai_optimizer_spark.streaming.event_stream import (
        decontamination_probe_plan,
    )
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"]
    truth = {
        tuple(r)
        for r in bloom_decontamination({"documents": docs}).collect()
    }
    assert truth  # fixture must exercise the gate

    bits = bloom_bench_bits(_shingle_sets(docs)).localCheckpoint(eager=False)
    corpus = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    half_a = corpus.filter(F.col("doc_id") % 2 == 0)
    half_b = corpus.filter(F.col("doc_id") % 2 == 1)

    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"dec_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"dec_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        plan = decontamination_probe_plan(stream, bits)
        q = (
            plan.writeStream.format("memory")
            .queryName(f"st16_order_{order_name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results[order_name] = {
            tuple(r)
            for r in spark.table(f"st16_order_{order_name}")
            .filter(F.col("n_hit") >= BLOOM_MIN_OVERLAP)
            .select(
                "doc_id",
                "n_hit",
                "n_sh",
                F.round(F.col("n_hit") * 1.0 / F.col("n_sh"), 3).alias("hit_frac"),
            )
            .collect()
        }
    assert results["fwd"] == results["rev"] == truth


def test_streaming_quality_gate_multibatch_equals_batch_scorer(
    spark, sf_small, tmp_path
):
    """st17 semantics: scoring is a pure per-row expression over a fixed
    model, so streamed scores must equal the batch classifier's
    bit-for-bit regardless of micro-batch split or arrival order —
    including the exact scaled-integer dot reproduction."""
    from ai_optimizer_spark.operators.textops import (
        qcls_fit,
        qcls_score_expr,
        quality_classifier,
    )
    from ai_optimizer_spark.tables import load_tables

    docs = load_tables(spark, sf_small)["documents"]
    truth = {
        tuple(r) for r in quality_classifier({"documents": docs}).collect()
    }
    assert truth

    weights, feat = qcls_fit(docs)
    feat.unpersist()
    results = {}
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"qg_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"qg_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        p = qcls_score_expr(weights)
        plan = stream.select(
            "doc_id",
            "source",
            (F.round(p, 6) + F.lit(0.0)).alias("score"),
            (p >= 0.5).alias("keep"),
        )
        q = (
            plan.writeStream.format("memory")
            .queryName(f"st17_order_{order_name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results[order_name] = {
            tuple(r) for r in spark.table(f"st17_order_{order_name}").collect()
        }
    assert results["fwd"] == results["rev"] == truth


def test_streaming_semantic_decon_multibatch_equals_batch_audit(
    spark, sf_small, tmp_path
):
    """st18 semantics: the quantizer and benchmark partition are fixed
    static artifacts and per-vector probing is stateless, so streamed
    audit rows must equal the offline d20 audit bit-for-bit regardless of
    micro-batch split or arrival order."""
    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.dedup import (
        DECON_BENCH_MOD,
        SEMDECON_TAU,
        choose_semdedup_k,
        semantic_decontamination,
    )
    from ai_optimizer_spark.operators.similarity import _assign_cells

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    truth = {
        tuple(r)
        for r in semantic_decontamination({"embeddings": emb}).collect()
    }
    assert truth

    n_centroids = choose_semdedup_k(emb.count())
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cent_rows = cents.collect()

    def normed(assigned):
        return assigned.select(
            "vec_id", "cid", V.norm("embedding").alias("nrm"), "embedding"
        ).select(
            "vec_id", "cid", V.safe_unit("embedding", F.col("nrm")).alias("ne")
        )

    bench = (
        normed(_assign_cells(emb, cents, rows=cent_rows))
        .filter(F.col("vec_id") % DECON_BENCH_MOD == 0)
        .select(
            F.col("vec_id").alias("vb"),
            F.col("cid").alias("cb"),
            F.col("ne").alias("nb"),
        )
        .localCheckpoint(eager=False)
    )
    corpus = emb.filter(F.col("vec_id") % DECON_BENCH_MOD != 0)
    half_a = corpus.filter(F.col("vec_id") % 2 == 0)
    half_b = corpus.filter(F.col("vec_id") % 2 == 1)
    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"sd_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"sd_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        cos = F.round(V.dot("ne", "nb"), 3) + F.lit(0.0)
        plan = (
            normed(_assign_cells(stream, cents, rows=cent_rows))
            .join(F.broadcast(bench), F.col("cid") == F.col("cb"))
            .select("vec_id", "cid", cos.alias("cos"))
            .filter(F.col("cos") >= SEMDECON_TAU)
            .groupBy("vec_id", "cid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
                (F.max("cos") + F.lit(0.0)).alias("max_cos"),
            )
        )
        q = (
            plan.writeStream.format("memory")
            .queryName(f"st18_order_{order_name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results[order_name] = {
            tuple(r) for r in spark.table(f"st18_order_{order_name}").collect()
        }
    assert results["fwd"] == results["rev"] == truth


def test_streaming_sq8_ingest_multibatch_equals_batch_stats(
    spark, sf_small, tmp_path
):
    """st19 semantics: quantization and cell assignment are pure per-row
    expressions and every aggregate is order-free (count/max/min — no
    float sums), so the per-cell health stats must equal the batch
    computation bit-for-bit regardless of micro-batch split or arrival
    order."""
    from ai_optimizer_spark.operators.similarity import _assign_cells, sq8_project

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )

    def stats(df):
        quantized = sq8_project(_assign_cells(df, cents)).select(
            "vec_id", "cid", "embedding", "scale", "codes"
        )
        qerr = F.when(
            F.col("scale") > 0,
            F.round(
                F.array_max(
                    F.zip_with(
                        "embedding", "codes", lambda x, c: F.abs(x - c * F.col("scale"))
                    )
                ),
                9,
            ),
        ).otherwise(F.lit(0.0))
        return (
            quantized.select("cid", "scale", qerr.alias("qerr"))
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vecs"),
                (F.max("qerr") + F.lit(0.0)).alias("max_qerr"),
                (F.round(F.max("scale"), 9) + F.lit(0.0)).alias("max_scale"),
                (F.round(F.min("scale"), 9) + F.lit(0.0)).alias("min_scale"),
            )
        )

    truth = {tuple(r) for r in stats(emb).collect()}
    assert truth

    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"sq8_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"sq8_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            stats(stream)
            .writeStream.format("memory")
            .queryName(f"st19_order_{order_name}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        results[order_name] = {
            tuple(r) for r in spark.table(f"st19_order_{order_name}").collect()
        }
    assert results["fwd"] == results["rev"] == truth


@pytest.mark.slow
def test_streaming_fertility_multibatch_equals_batch_table(
    spark, sf_small, tmp_path
):
    """st20 semantics: the merge table is fixed model state and every
    running aggregate is an INTEGER sum (exact, order-free), so the
    streamed fertility table must equal the batch tx20 table bit-for-bit
    regardless of micro-batch split or arrival order."""
    from ai_optimizer_spark.operators.textops import tokenizer_fertility
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    docs = t["documents"]
    truth = {tuple(r) for r in tokenizer_fertility(t).collect()}
    assert truth

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"fert_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"fert_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        # the same plan streaming_fertility builds, over a controlled feed
        from ai_optimizer_spark.streaming import event_stream as ES

        orig = ES.documents_stream
        try:
            ES.documents_stream = lambda _spark, _sf: stream
            table = ES.streaming_fertility(spark, sf_small)
        finally:
            ES.documents_stream = orig
        results[order_name] = {tuple(r) for r in table.collect()}
    assert results["fwd"] == results["rev"] == truth


def test_streaming_knn_serving_multibatch_equals_batch(spark, sf_small, tmp_path):
    """st21: query results are per-query, so micro-batch boundaries can
    never change them — serve the same 20 queries split across THREE
    files (3 micro-batches, arbitrary split) and require the result set
    to equal v26's single-batch answer exactly."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ai_optimizer_spark.plans.bucketing import (
        ensure_sq8_clustered_store,
        quantized_ivf_knn_join,
        quantized_knn_serve,
    )

    truth = {
        tuple(r) for r in quantized_ivf_knn_join(spark, sf_small).collect()
    }

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    feed = str(tmp_path / "qfeed")
    os.makedirs(feed)
    for i, cond in enumerate(
        [F.col("vec_id") < 7, (F.col("vec_id") >= 7) & (F.col("vec_id") < 13),
         F.col("vec_id") >= 13]
    ):
        stage = str(tmp_path / f"stage{i}")
        emb.filter(F.col("vec_id") < 20).filter(cond).coalesce(1).write.parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dst = os.path.join(feed, f"b{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)

    name = ensure_sq8_clustered_store(spark, sf_small, 16)
    store = (
        spark.table(name)
        .withColumn("cid", F.col("cid").cast("long"))
        .withColumn("codes", F.col("codes").cast("array<double>"))
    )
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("ce")
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    served = []
    batches = []

    def _serve(batch_df, _bid):
        rows = quantized_knn_serve(store, cents, batch_df, 3, 4).collect()
        batches.append(len(rows))
        served.extend(tuple(r) for r in rows)

    q = stream.writeStream.foreachBatch(_serve).trigger(availableNow=True).start()
    assert q.awaitTermination(180)
    assert len([b for b in batches if b > 0]) >= 2  # genuinely multi-batch
    assert set(served) == truth


@pytest.mark.slow
def test_streaming_erasure_disjoint_waves_commute(spark, sf_small, tmp_path):
    """st22's wave contract: delete waves touching DISJOINT cell sets
    produce exactly the records of one combined wave (per-cell repair
    depends only on that cell's deletes), regardless of arrival order —
    how an erasure queue actually applies batches."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from ai_optimizer_spark.functions import vector as V
    from ai_optimizer_spark.operators.refresh import _delete_repair_stats
    from ai_optimizer_spark.operators.similarity import _ivf_assign
    from ai_optimizer_spark.plans.bucketing import ensure_sq8_clustered_store
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    emb = t["embeddings"]
    cents, assigned = _ivf_assign(emb, 16)
    rows = assigned.select("vec_id", "cid").collect()
    by_cell: dict[int, list[int]] = {}
    for r in rows:
        by_cell.setdefault(r.cid, []).append(r.vec_id)
    cells = sorted(c for c, m in by_cell.items() if len(m) >= 3)[:2]
    assert len(cells) == 2
    wave1 = sorted(by_cell[cells[0]])[:2]  # two deletes in cell A
    wave2 = sorted(by_cell[cells[1]])[:2]  # two deletes in cell B

    # expected: one combined repair over both waves (disjoint cells)
    all_ids = set(wave1) | set(wave2)
    flagged = assigned.select(
        "vec_id", "cid", "embedding",
        F.col("vec_id").isin(list(all_ids)).alias("is_del"),
    )
    affected = flagged.filter("is_del").select(F.col("cid").alias("a")).distinct()
    dist = (
        flagged.join(F.broadcast(affected), F.col("cid") == F.col("a"))
        .join(
            F.broadcast(cents.select(F.col("cid").alias("c2"), "ce")),
            F.col("cid") == F.col("c2"),
        )
        .select("cid", "is_del", V.euclidean_distance("embedding", "ce").alias("dc"))
    )
    expected = {tuple(r) for r in _delete_repair_stats(dist).collect()}

    # feed the two waves as two files, in both orders
    name = ensure_sq8_clustered_store(spark, sf_small, 16)
    vmap = spark.table(name).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )
    src = emb
    c_b = cents.select(F.col("cid").alias("c_cid"), "ce")

    for order_name, waves in (("fwd", [wave1, wave2]), ("rev", [wave2, wave1])):
        feed = str(tmp_path / f"feed_{order_name}")
        os.makedirs(feed)
        for i, ids in enumerate(waves):
            stage = str(tmp_path / f"stage_{order_name}_{i}")
            spark.createDataFrame(
                [(int(x),) for x in ids], "del_id long"
            ).coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"w{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)

        got: list[tuple] = []

        def _apply(batch_df, _bid, got=got):
            if batch_df.isEmpty():
                return
            dels = batch_df.select("del_id").distinct()
            aff = (
                vmap.join(F.broadcast(dels), vmap["vec_id"] == dels["del_id"])
                .select(F.col("cid").alias("a_cid"))
                .distinct()
            )
            mem = vmap.join(
                F.broadcast(aff), F.col("cid") == F.col("a_cid")
            ).select("vec_id", "cid")
            mem = mem.join(
                F.broadcast(dels), mem["vec_id"] == dels["del_id"], "left"
            ).select("vec_id", "cid", F.col("del_id").isNotNull().alias("is_del"))
            d = (
                src.join(F.broadcast(mem), "vec_id")
                .join(F.broadcast(c_b), F.col("cid") == F.col("c_cid"))
                .select(
                    "cid", "is_del",
                    V.euclidean_distance("embedding", "ce").alias("dc"),
                )
            )
            got.extend(tuple(r) for r in _delete_repair_stats(d).collect())

        stream = (
            spark.readStream.schema("del_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = stream.writeStream.foreachBatch(_apply).trigger(availableNow=True).start()
        assert q.awaitTermination(180)
        assert set(got) == expected, order_name
        assert len(got) == len(expected)


def test_streaming_cms_multibatch_equals_batch_table(spark, sf_small, tmp_path):
    """st23 semantics: the sketch is ONE streaming aggregation of integer
    cell counts (exact, order-free) and the probe list is fixed model
    state from the stored corpus — so the streamed heavy-hitter table
    must equal the batch a27 table bit-for-bit regardless of micro-batch
    split or arrival order."""
    from ai_optimizer_spark.operators.misc import cms_heavy_hitters
    from ai_optimizer_spark.streaming import event_stream as ES
    from ai_optimizer_spark.tables import load_tables

    t = load_tables(spark, sf_small)
    docs = t["documents"]
    truth = {tuple(r) for r in cms_heavy_hitters(t).collect()}
    assert truth

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    results = {}
    for order_name, batches in (("fwd", [half_a, half_b]), ("rev", [half_b, half_a])):
        feed = str(tmp_path / f"cms_{order_name}")
        os.makedirs(feed)
        for i, bdf in enumerate(batches):
            stage = str(tmp_path / f"cms_{order_name}_s{i}")
            bdf.coalesce(1).write.parquet(stage)
            part = glob.glob(stage + "/part-*.parquet")[0]
            dst = os.path.join(feed, f"b{i}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        orig = ES.documents_stream
        try:
            ES.documents_stream = lambda _spark, _sf: stream
            table = ES.streaming_cms_heavy_hitters(spark, sf_small)
        finally:
            ES.documents_stream = orig
        results[order_name] = {tuple(r) for r in table.collect()}
    assert results["fwd"] == results["rev"] == truth
