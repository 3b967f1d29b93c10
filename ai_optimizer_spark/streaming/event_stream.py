"""Structured Streaming surface — SURVEY.md §2.9.

The reference has no true stream processor; its stateful patterns (job
heartbeats T2-T4, progress events T5, incremental refresh T1) are polling
loops over Oracle tables. The Spark-native expression is Structured
Streaming: the SAME logical plan as the batch operators in
`operators/events.py`, run incrementally with watermarks — results on a
static snapshot are identical by construction, which is how the streaming
variants are tested.

Pieces:
  * `events_stream`     — file-source stream over the events parquet
                          (handles the TIMESTAMP(NANOS) → µs conversion the
                          same way tables.load_tables does).
  * `windowed_counts`   — tumbling 1 h window + 2 h watermark (the late-data
                          policy the reference never had).
  * `run_to_memory`     — availableNow micro-batch run into a memory sink:
                          processes everything currently available, then
                          stops — the batch-parity harness.
  * `ProgressRecorder`  — StreamingQueryListener capturing per-batch progress
                          (T5 progress events analog).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..tables import load_tables

# State-store partition count for the memory-sink streaming harness runs
# (r10, guide §2.2/§6.2 — fewer, larger partitions; the st23 contract
# timeout). Every stateful aggregate in this package keeps BOUNDED state —
# cells, domains, sketch cells, windows: ≤ a few thousand rows by design,
# independent of corpus size (each op's docstring states its bound) — yet a
# streaming aggregation allocates spark.sql.shuffle.partitions state stores
# and commits a checkpoint file PER STORE PER BATCH (AQE never coalesces a
# stateful exchange). The session default (200) therefore costs 200 tiny
# checkpoint commits per micro-batch for k-row state — pure fixed overhead
# that once stretched st23 past the driver's 120 s timeout on a loaded box.
# 64 is derived from the STATE bound, not the local core count: map-side
# partial aggregation means the state exchange carries (map_tasks × k)
# digest rows regardless of input volume, so 64 stores stay far below the
# 100 MB/partition guideline at any corpus size.
STREAM_STATE_PARTITIONS = 64


@contextmanager
def bounded_state_shuffle(spark: SparkSession):
    """CAP spark.sql.shuffle.partitions at STREAM_STATE_PARTITIONS around a
    streaming start+await (the value is captured into the query's conf at
    start): a session already running fewer partitions keeps its setting
    (the engine session's 32 stays 32; the driver's plain-session 200 drops
    to 64). Restores the session value afterwards so batch queries in the
    same session are untouched.

    SINGLE-THREADED-HARNESS ASSUMPTION (advice r10): this mutates the
    session-global conf for the duration of the stream start+await, so a
    concurrent batch query or a second stream started from another thread
    of the SAME session would observe the capped value while this block is
    open. The bench/driver harness runs one query at a time; a
    multi-threaded caller should start streams from a cloned session
    (spark.newSession()) instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        capped = min(int(old), STREAM_STATE_PARTITIONS)
    except (TypeError, ValueError):
        capped = STREAM_STATE_PARTITIONS
    spark.conf.set("spark.sql.shuffle.partitions", str(capped))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the driver's events parquet with the ns→µs fix."""
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # file streams need a directory source; scope to events.parquet by glob
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from ..tables import normalize_event_ts

    # watermarks demand tz-aware TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    # on NTZ), so the stream re-casts the normalized NTZ column; wall-clock is
    # preserved under the engine's UTC session default
    return normalize_event_ts(stream).withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 2-hour watermark: counts +
    value sums per (window, event_type). The watermark bounds state: at
    100 TB/day ingest, state is (types × open windows), not input size."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_windowed_counts(events: DataFrame) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes with a 2-hour watermark —
    the streaming form of `operators.events.sliding_window_counts`. Each
    event updates exactly two window states; the watermark finalizes and
    evicts a window 2 h after its end, so state stays (types × open
    windows) regardless of ingest volume."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def session_window_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization via the built-in session_window: gap-based
    session aggregation with watermark-bounded state — the incremental form
    of operators/events.sessionize (same 30-min gap). `session_end` is
    derived back from the window end (end = last event + gap) so the output
    aligns with the batch operator's (min ts, max ts) session bounds.

    Append mode + watermark means a session only emits once the watermark
    passes its close — sessions near the end of the stream stay in state
    (exactly the late-data semantics batch jobs don't have to think about).
    """
    w = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(w.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap_minutes} MINUTES")).alias(
                "session_end"
            ),
            "n_events",
            "session_value",
        )
    )


def run_to_memory(
    spark: SparkSession,
    plan: DataFrame,
    name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming plan with Trigger.AvailableNow into a memory
    sink, block until done, return the result table. Aggregating plans
    use complete mode (default); stateless projections pass append."""
    with bounded_state_shuffle(spark):
        q = (
            plan.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_sec)
    if not finished:
        # A partial memory table would surface downstream as a baffling hash
        # mismatch; fail loudly at the true cause instead.
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} did not finish within {timeout_sec}s"
        )
    return spark.table(name)


class ProgressRecorder(StreamingQueryListener):
    """T5 analog: capture per-micro-batch progress (rows/sec, batch id) the
    way the reference stamps stage transitions onto the job row
    (api/v1/endpoints/embed.py:719-775)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []
        self._terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        self.started.append(event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({"batch_id": p.batchId, "num_input_rows": p.numInputRows})

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(event.id)
        self._terminated.set()

    def await_terminated(self, timeout_sec: float = 60.0) -> bool:
        """Block until a terminated event has been delivered. Listener
        events reach Python asynchronously, after `awaitTermination` has
        returned; the bus delivers them in order, so once the terminated
        event is in, every started and progress event of that query is too."""
        return self._terminated.wait(timeout_sec)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (file source, glob-scoped)."""
    static = load_tables(spark, sf_dir)["documents"]
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the embeddings parquet — shared by st13/st15.
    FileStreamSource monitors a DIRECTORY: stream the table dir when
    embeddings.parquet is directory-style (multi-part layout), else fall
    back to globbing the single file out of its parent."""
    import os as _os

    static = load_tables(spark, sf_dir)["embeddings"]
    table_path = f"{sf_dir}/embeddings.parquet"
    reader = spark.readStream.schema(static.schema).option("maxFilesPerTrigger", 1)
    if _os.path.isdir(table_path):
        return reader.parquet(table_path)
    return reader.option("pathGlobFilter", "embeddings.parquet").parquet(sf_dir)


def streaming_term_doc_freq(docs: DataFrame) -> DataFrame:
    """Streaming flatMap-aggregation: per-term document frequency maintained
    incrementally as documents arrive — the streaming form of
    operators/textops.top_terms's df side (a corpus vocabulary that stays
    current while ingest runs). explode() in a streaming plan is a
    stateless narrow op; only the per-term counts are state, so state size
    is vocabulary-sized regardless of ingest volume."""
    from ..functions import text as T

    return (
        docs.select(F.explode(F.array_distinct(T.words("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )


def attributed_purchases_stream(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases attributed to same-user views
    from the preceding hour. Both sides carry watermarks, and the join
    condition bounds purchase_ts to [view_ts, view_ts + 1h), so the state
    store retains each view row for at most (1 h + watermark) of event time
    and each purchase for the watermark horizon — state is bounded by the
    join window, not stream length. Batch twin:
    operators/events.attributed_purchases (parity-tested)."""
    v = (
        views.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.round("value", 4).alias("purchase_value"),
        )
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts",
            "purchase_value",
        )
    )


def run_tumbling_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the watermarked tumbling-window stream end-to-end (availableNow
    trigger → memory sink) and return the materialized result — the
    correctness-gate entry that proves the STREAMING plan, not just its batch
    twin, matches the SQL oracle. Streaming semantics guarantee this: a
    streaming query is defined as the batch query over the complete input,
    and with availableNow the complete input is exactly the snapshot."""
    import uuid

    name = f"st_tumbling_{uuid.uuid4().hex[:12]}"
    out = run_to_memory(
        spark, windowed_counts(events_stream(spark, sf_dir)), name, timeout_sec=300
    )
    # The streaming window is tz-aware TIMESTAMP; every other contract output
    # is pinned to TIMESTAMP_NTZ (collect() renders tz-aware values in the
    # driver host's zone — a portability trap vs the NTZ DuckDB oracle).
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


def run_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st7: execute the REAL streaming session_window plan end-to-end
    (availableNow → memory sink) and return per-user sessions — the
    streaming twin of operators/events.sessionize, hash-checked against the
    same gap-based SQL oracle (minus the batch-only session_seq counter).

    Parity rests on matching gap semantics: session_window merges an event
    into a session only while `next < last + gap`, and the batch operator
    opens a new session at `delta >= gap` — identical at exact-gap
    boundaries, microsecond precision on both engines."""
    import uuid

    name = f"st_session_{uuid.uuid4().hex[:12]}"
    out = run_to_memory(
        spark,
        session_window_stats(events_stream(spark, sf_dir)),
        name,
        timeout_sec=300,
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "session_value",
    )


def segment_purchase_stats(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: the purchase stream joined to the (slowly
    changing) customer dimension, rolled up per market segment. The static
    side broadcasts — a stateless per-batch hash join, the canonical
    streaming-enrichment shape: no watermark, no state store, dimension
    refreshed per micro-batch. At 100 TB/day the stream side never
    shuffles; only the (tiny) dim table ships."""
    purchases = events.filter(F.col("event_type") == "purchase")
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        purchases.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("purchase_value"),
        )
    )


def run_segment_purchases_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st10: execute the stream-static enrichment end-to-end (availableNow →
    memory sink, complete mode) and return the materialized rollup."""
    import uuid

    customer = load_tables(spark, sf_dir)["customer"]
    name = f"st_segments_{uuid.uuid4().hex[:12]}"
    plan = segment_purchase_stats(events_stream(spark, sf_dir), customer)
    return run_to_memory(spark, plan, name, timeout_sec=300)


def streaming_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12: streaming near-dup candidate feed — arriving documents' LSH
    band keys joined against the STATIC corpus band index — a
    stream-static equi-join, the always-on ingest form of d3's offline
    candidate generation. Both sides call minhash_band_keys: its
    signature kernel is a stateless per-row map (mapInPandas), so the
    stream side needs no keyed state. Aggregated to (new_doc, index_doc,
    n_band_hits) in complete mode; exact-Jaccard verification consumes
    this tiny feed downstream. Same plan as the batch twin
    (operators/dedup.streaming_neardup_candidates_batch) → same oracle."""
    from ..operators.dedup import minhash_band_keys

    docs = documents_stream(spark, sf_dir)
    stream_bands = minhash_band_keys(docs)
    static_index = minhash_band_keys(
        load_tables(spark, sf_dir)["documents"]
    ).select(F.col("doc_id").alias("index_doc"), "band", "key")
    plan = (
        stream_bands.join(static_index, ["band", "key"])
        .filter(F.col("doc_id") != F.col("index_doc"))
        .groupBy(F.col("doc_id").alias("new_doc"), "index_doc")
        .agg(F.count(F.lit(1)).alias("n_band_hits"))
    )
    import uuid

    return run_to_memory(spark, plan, f"st12_{uuid.uuid4().hex[:8]}")


def streaming_span_novelty(spark: SparkSession, sf_dir: str, window: int = 8) -> DataFrame:
    """ST14: ingest-time content-novelty scoring — the streaming read path
    of d15's repeated-substring signal. Arriving documents' w-token spans
    are fingerprinted STATELESSLY (explode + hash60 is a fold over the row
    alone — no keyed state, same reason st12's band keys stream) and
    probed against the STORED span index; a span is "known" iff some OTHER
    document contains it. Per arriving doc: (n_spans, n_known_spans) — the
    feed an always-on ingest thresholds BEFORE admitting a document, the
    streaming complement of d15's offline coverage scan.

    Index side: one row per DISTINCT span fingerprint (wh, n_docs,
    min_doc) — bounded by distinct corpus spans, not occurrences; the
    "other doc" test is a column predicate, never a per-pair scan. At
    100 TB the index is a write-path artifact maintained incrementally
    with ingest (operators/dedup.span_index); nothing about the corpus is
    rescanned per batch."""
    from ..operators.dedup import span_fingerprints, span_index

    docs = documents_stream(spark, sf_dir)
    idx = span_index(load_tables(spark, sf_dir)["documents"], window)
    probed = span_fingerprints(docs, window).join(idx, "wh", "left")
    known = (F.col("n_docs") >= 2) | (
        (F.col("n_docs") == 1) & (F.col("min_doc") != F.col("doc_id"))
    )
    plan = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(known, 1).otherwise(0)).cast("long").alias("n_known_spans"),
    )
    import uuid

    return run_to_memory(spark, plan, f"st14_{uuid.uuid4().hex[:8]}")


def decontamination_probe_plan(docs: DataFrame, bits: DataFrame) -> DataFrame:
    """The stream-side plan of st16: explode arriving docs into shingles,
    test each shingle's k Bloom bits against the static `bits` set with
    one broadcast left-join per seed (stateless), then ONE streaming
    aggregation per doc_id counting total and fully-matched shingles.
    Factored out so tests can run it over arbitrary multi-batch feeds."""
    from ..operators.dedup import BLOOM_HASHES, SHINGLE_N, bloom_bit
    from ..functions import text as T

    probe = docs.select(
        "doc_id", F.explode(T.word_shingles("text", SHINGLE_N)).alias("shingle")
    )
    flags = []
    for i in range(BLOOM_HASHES):
        bi = bits.select(F.col("bit").alias(f"b{i}"))
        probe = probe.join(
            F.broadcast(bi), bloom_bit(F.col("shingle"), i) == F.col(f"b{i}"), "left"
        )
        flags.append(F.col(f"b{i}").isNotNull())
    contaminated = flags[0]
    for fl in flags[1:]:
        contaminated = contaminated & fl
    return probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum(F.when(contaminated, 1).otherwise(0)).cast("long").alias("n_hit"),
    )


def streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16: ingest-time benchmark decontamination — the streaming read
    path of d19's Bloom gate. Arriving documents' shingles are hashed to
    their k bit positions STATELESSLY; membership of each bit in the
    STORED benchmark bit set is tested with one stream-static broadcast
    left-join PER SEED rather than the batch form's per-(doc, shingle)
    bit aggregation — chaining a second aggregation under a streaming agg
    is illegal, but k static joins plus flag conjunction are stateless,
    leaving exactly ONE streaming aggregation (per arriving doc). A
    shingle is contaminated iff every seed's bit joined (duplicate bit
    values collapse in the DISTINCT static set, so per-seed membership ==
    all-distinct-bits-present). The >= min_overlap gate and hit fraction
    compose batch-side over the memory table (st15's pattern: a monitor
    reads its metrics store). Shares d19's oracle verbatim — streamed
    admission verdicts ≡ the offline gate is the invariant.

    At 100 TB the bit set is the whole point: <= 2^20 rows no matter how
    the eval suite grows, rebuilt only when the benchmark changes, shipped
    as one broadcast to every ingest executor."""
    from ..operators.dedup import (
        BLOOM_MIN_OVERLAP,
        DECON_BENCH_MOD,
        bloom_bench_bits,
        _shingle_sets,
    )
    import uuid

    static_sh = _shingle_sets(load_tables(spark, sf_dir)["documents"])
    bits = bloom_bench_bits(static_sh).localCheckpoint(eager=True)

    docs = documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % DECON_BENCH_MOD != 0
    )
    plan = decontamination_probe_plan(docs, bits)
    table = run_to_memory(spark, plan, f"st16_{uuid.uuid4().hex[:8]}")
    return table.filter(F.col("n_hit") >= BLOOM_MIN_OVERLAP).select(
        "doc_id",
        "n_hit",
        "n_sh",
        F.round(F.col("n_hit") * 1.0 / F.col("n_sh"), 3).alias("hit_frac"),
    )


def streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13: streaming ANN index ingestion — arriving embeddings assigned
    to the EXISTING IVF coarse quantizer and rolled up per cell. The
    assignment is the same map-only numpy argmin the batch tier uses
    (_assign_cells), which is what makes it streamable: the model ships
    in the task closure, so assignment is STATELESS — only the
    per-cell counters are state (n_centroids rows, bounded). This is the
    write path an always-on vector store runs: route each new vector to
    its cell/partition, keep per-cell occupancy current (the signal for
    when to re-train centroids or split cells)."""
    from ..operators.similarity import _assign_cells

    static = load_tables(spark, sf_dir)["embeddings"]
    cents = static.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    stream = embeddings_stream(spark, sf_dir)
    assigned = _assign_cells(stream, cents)
    plan = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )
    import uuid

    return run_to_memory(spark, plan, f"st13_{uuid.uuid4().hex[:8]}")


def streaming_drift_monitor(
    spark: SparkSession, sf_dir: str, cutoff: int = 400, n_centroids: int = 16
) -> DataFrame:
    """ST15: always-on embedding-drift monitoring — the streaming twin of
    t12, closing the serving-maintenance family (st13 routes arrivals,
    t11 maintains the stats, t12/st15 watch them). Arriving vectors
    assign STATELESSLY to the fixed coarse quantizer (the model ships
    inside the plan — the st13 shape); the ONLY streaming state is the
    per-cell (count, mean-distance) aggregate: n_centroids rows, bounded
    forever. Structured Streaming forbids joins and second aggregations
    downstream of a streaming aggregate, so the per-cell table
    materializes to the memory sink and the drift report (global delta
    total, PSI vs stored stats, verdict) composes BATCH-side over those
    n_centroids rows — exactly how a production monitor reads its metrics
    store. Output schema and values are t12's (same oracle): the streamed
    delta must agree with the batch delta bit-for-bit."""
    import uuid

    from ..operators.refresh import _centroid_model, drift_cell_stats, drift_report

    static = load_tables(spark, sf_dir)["embeddings"]
    cents, cent_rows = _centroid_model(static, n_centroids)
    stream = embeddings_stream(spark, sf_dir)
    new_cells = drift_cell_stats(
        stream.filter(F.col("vec_id") >= cutoff), cents, cent_rows
    )
    mem = run_to_memory(spark, new_cells, f"st15_{uuid.uuid4().hex[:8]}")
    hist = drift_cell_stats(
        static.filter(F.col("vec_id") < cutoff), cents, cent_rows
    )
    return drift_report(hist, mem, n_centroids)


def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17: ingest-time model-based quality gating — tx19's serving path.
    The classifier is fit ONCE on the stored corpus (the batch job that
    owns the model); arriving documents are scored by a PURE PER-ROW
    expression (`qcls_score_expr`): bucket counts, the 9-rounded products,
    and the dot product all fold inside one row as exact scaled-integer
    arithmetic, so the streaming plan has NO aggregation and NO state at
    all — append mode, stateless, the cheapest possible ingest shape.
    Verdicts are bit-identical to the batch scorer by construction (the
    integer-numerator argument in qcls_score_expr's docstring), which the
    shared tx19 oracle enforces end-to-end.

    At 100 TB the model is 65 numbers: it ships inside the plan as a map
    literal — no broadcast table, no join, no per-batch recomputation."""
    from ..operators.textops import qcls_fit, qcls_score_expr
    import uuid

    static_docs = load_tables(spark, sf_dir)["documents"]
    weights, feat = qcls_fit(static_docs)
    feat.unpersist()

    docs = documents_stream(spark, sf_dir)
    p = qcls_score_expr(weights)
    plan = docs.select(
        "doc_id",
        "source",
        (F.round(p, 6) + F.lit(0.0)).alias("score"),
        (p >= 0.5).alias("keep"),
    )
    # stateless projection: append mode, not complete
    return run_to_memory(
        spark, plan, f"st17_{uuid.uuid4().hex[:8]}", output_mode="append"
    )


def streaming_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST18: ingest-time semantic decontamination — d20's streaming read
    path, completing the decon family's ingest story (st16 probes the
    Bloom bit set; st18 probes the benchmark's embedding cells). Arriving
    vectors are assigned to the STORED coarse quantizer statelessly
    (st13's numpy argmin, `_assign_cells`), unit-normalized map-side, and
    joined per cell against the broadcast normalized benchmark partition;
    the cosine filter is stateless, leaving exactly ONE streaming
    aggregation (per-vector hit count + max cosine). Verdicts equal the
    offline d20 audit bit-for-bit (shared oracle): same centroids, same
    safe_unit normalization, same rounded dot fold.

    At 100 TB the broadcast is the eval suite's vectors — fixed-size
    while ingest volume grows — and the quantizer ships in the task
    closure, so the stream shuffles nothing but the final per-vector
    digests."""
    import uuid

    from ..operators.dedup import (
        DECON_BENCH_MOD,
        SEMDECON_TAU,
        choose_semdedup_k,
    )
    from ..functions import vector as V
    from ..operators.similarity import _assign_cells

    emb = load_tables(spark, sf_dir)["embeddings"]
    n_centroids = choose_semdedup_k(emb.count())
    cents = emb.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cent_rows = cents.collect()

    def normed(assigned: DataFrame) -> DataFrame:
        return assigned.select(
            "vec_id",
            "cid",
            V.norm("embedding").alias("nrm"),
            "embedding",
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
        .localCheckpoint(eager=True)
    )

    stream = embeddings_stream(spark, sf_dir)
    arriving = normed(_assign_cells(stream, cents, rows=cent_rows)).filter(
        F.col("vec_id") % DECON_BENCH_MOD != 0
    )
    cos = F.round(V.dot("ne", "nb"), 3) + F.lit(0.0)
    plan = (
        arriving.join(F.broadcast(bench), F.col("cid") == F.col("cb"))
        .select("vec_id", "cid", cos.alias("cos"))
        .filter(F.col("cos") >= SEMDECON_TAU)
        .groupBy("vec_id", "cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            (F.max("cos") + F.lit(0.0)).alias("max_cos"),
        )
    )
    return run_to_memory(spark, plan, f"st18_{uuid.uuid4().hex[:8]}")


def streaming_sq8_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST19: streaming quantized ingest — the SQ8 write path (v23) as an
    always-on stream, plus the quantization-health monitor a store runs
    alongside it. Arriving vectors are quantized STATELESSLY (sq8's scale/
    codes are pure per-row expressions) and routed to their IVF cell
    (st13's stateless assignment); the ONLY streaming state is the
    per-cell health aggregate: occupancy, the worst per-dimension
    reconstruction error (max |x − code·scale| — the number that says
    whether int8 still carries this cell's geometry), and the scale
    envelope (min/max — a widening envelope means one cell now mixes
    magnitudes and wants a split). n_centroids rows of state, bounded
    forever.

    Streamed result ≡ the same stats computed batch over the full input
    (Structured Streaming's contract), which is exactly what the shared
    SQL oracle checks. Max/min aggregates are order-free by construction —
    no float-sum order dependence anywhere."""
    import uuid

    from ..operators.similarity import sq8_cell_stats

    static = load_tables(spark, sf_dir)["embeddings"]
    cents = static.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    stream = embeddings_stream(spark, sf_dir)
    plan = sq8_cell_stats(stream, cents)
    return run_to_memory(spark, plan, f"st19_{uuid.uuid4().hex[:8]}")


def streaming_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST20: always-on tokenizer-fertility monitoring — tx20's streaming
    twin. The BPE merge table is FIXED model state (fit once on the
    stored corpus, shipped into the Arrow stage's closure exactly like
    the batch op); arriving documents flow through the same joinless
    mapInPandas word/subword/char counter, and the only streaming state
    is the per-(lang, source) sum triple — |domains| rows, bounded. All
    sums are INTEGER (exact, order-free), so the streamed table equals
    the batch table bit-for-bit at every point where the stream has
    consumed the same documents — the shared tx20 oracle checks exactly
    that. The ratios (fertility, chars/subword) are computed on the
    aggregate OUTPUT rows, downstream of the one streaming aggregation.

    Why a store runs this: fertility drift per source IS tokenizer-rot —
    a source whose fertility climbs is drifting away from the tokenizer's
    training distribution (new language mix, new formatting), the signal
    to refit merges or rebalance budgets (smp11 consumes this table)."""
    import uuid

    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..operators.textops import BPE_PRETOKEN_RE, bpe_learn
    from ..tables import load_tables

    docs_static = load_tables(spark, sf_dir)
    merges = [
        (r["a"], r["b"]) for r in bpe_learn(docs_static, n_merges=8).collect()
    ]
    pretoken = __import__("re").compile(BPE_PRETOKEN_RE)

    def _apply(word: str) -> list[str]:
        syms = list(word)
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    schema = StructType(
        [
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_words", LongType()),
            StructField("n_subwords", LongType()),
            StructField("n_chars", LongType()),
        ]
    )

    def _stats(batches):
        # per-TASK subword memo (guide §4.5, the tx20 move): survives
        # across Arrow batches so Zipf-frequent words pay the BPE merge
        # loop once per task; deterministic values, so scope cannot
        # change results
        memo: dict[str, int] = {}
        for pdf in batches:
            rows = []
            for lang, source, text in zip(pdf["lang"], pdf["source"], pdf["text"]):
                n_words = n_sub = n_chars = 0
                for w in pretoken.findall(text or ""):
                    n_toks = memo.get(w)
                    if n_toks is None:
                        n_toks = len(_apply(w))
                        memo[w] = n_toks
                    n_words += 1
                    n_sub += n_toks
                    n_chars += len(w)
                rows.append((lang, source, n_words, n_sub, n_chars))
            yield pd.DataFrame(
                rows, columns=["lang", "source", "n_words", "n_subwords", "n_chars"]
            )

    stream = documents_stream(spark, sf_dir).select("lang", "source", "text")
    per_doc = stream.mapInPandas(_stats, schema)
    one = F.lit(1).cast("long")
    tw = F.greatest(F.sum("n_words"), one)
    ts = F.greatest(F.sum("n_subwords"), one)
    plan = per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_subwords").cast("long").alias("total_subwords"),
        (F.round(F.sum("n_subwords") * F.lit(1.0) / tw, 4) + F.lit(0.0)).alias(
            "fertility"
        ),
        (F.round(F.sum("n_chars") * F.lit(1.0) / ts, 4) + F.lit(0.0)).alias(
            "chars_per_subword"
        ),
    )
    return run_to_memory(spark, plan, f"st20_{uuid.uuid4().hex[:8]}")


def streaming_knn_serving(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 20,
    k: int = 3,
    n_probe: int = 4,
    n_centroids: int = 16,
) -> DataFrame:
    """ST21: always-on ANN query serving — the streaming twin of v26,
    closing the serving matrix's last axis ({single, batch, STREAM} ×
    {raw, SQ8}). Query vectors arrive on a stream; each micro-batch is
    served by foreachBatch running quantized_knn_serve — the EXACT plan
    object v26 uses (factored shared tail), over the same quantized
    clustered store, so the two cannot drift. This is the production
    retrieval daemon: the store and centroid model are long-lived, each
    arriving query batch pays only its own probe (per-query DPP'd
    partition reads of the compressed layout).

    Correctness under micro-batching: a query's result depends on its row
    ALONE (probe, scoring, and top-k are all per-query) — batch boundaries
    cannot change any result, so the batch op is the exact oracle; the
    multi-batch replay test asserts it (the st16-st20 order-independence
    discipline). Late or re-ordered queries are a no-op concern: queries
    are requests, not state.

    The per-batch collect is the SERVED ANSWER (n_batch_queries × k rows
    — what a serving daemon hands back per request wave), never corpus
    data; results accumulate driver-side only to hand the harness one
    DataFrame."""
    from ..plans.bucketing import ensure_sq8_clustered_store, quantized_knn_serve

    name = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    store = (
        spark.table(name)
        .withColumn("cid", F.col("cid").cast("long"))
        .withColumn("codes", F.col("codes").cast("array<double>"))
    )
    src = load_tables(spark, sf_dir)["embeddings"]
    cents = src.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("ce")
    )
    # the query feed drains in as FEW micro-batches as availableNow
    # allows (no maxFilesPerTrigger=1): the fixture's queries live inside
    # the corpus table, and file-granular batching turns one vectorized
    # source scan into n_files engine iterations — measured 25 s at the
    # 64× tile from per-batch fixed cost alone, ~flat without it. A real
    # daemon's query topic is its own source; batch granularity there is
    # the request wave, and the 3-file replay test covers the multi-batch
    # path explicitly.
    import os as _os

    table_path = f"{sf_dir}/embeddings.parquet"
    reader = spark.readStream.schema(src.schema)
    if _os.path.isdir(table_path):
        qsrc = reader.parquet(table_path)
    else:
        qsrc = reader.option("pathGlobFilter", "embeddings.parquet").parquet(sf_dir)
    stream = qsrc.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    served: list[tuple] = []

    def _serve(batch_df: DataFrame, _batch_id: int) -> None:
        # a serving daemon skips empty request waves: the file stream
        # feeds one micro-batch per input file and most carry no query
        # rows, so running the probe plan on them is pure overhead
        # (measured 8.9→35 s at 16×→64× before this guard — the growth
        # was empty-batch count, not serving work; ~flat after)
        if batch_df.isEmpty():
            return
        rows = quantized_knn_serve(store, cents, batch_df, k, n_probe).collect()
        served.extend(tuple(r) for r in rows)

    q = (
        stream.writeStream.foreachBatch(_serve)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("st21 streaming serving did not finish in 180s")
    return spark.createDataFrame(
        served,
        "query_id long, vec_id long, label int, cid long, cos_sim double",
    )


def streaming_erasure(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 16,
    del_mod: int = 41,
    del_rem: int = 5,
) -> DataFrame:
    """ST22: the erasure QUEUE as a stream — t16b's always-on twin,
    closing the lifecycle the way st21 closes serving (build v24 /
    ingest st19 / monitor t14 / split t15 / merge t17 / serve v24-v27b /
    DELETE t16b — every verb now has a batch form and a streaming form).
    Delete requests arrive on a stream; each micro-batch resolves its
    ids against the store's vec_id→cid map and emits the per-affected-
    cell repair records for exactly the cells ITS ids touch.

    Correctness under micro-batching: unlike counts or maxes, the repair
    record of a cell depends on the FULL delete set for that cell — so
    this op batches per REQUEST WAVE (the production unit: one GDPR
    batch = one wave = one repair transaction) and the fixture feeds the
    whole fixture delete set as one wave, making the batch op (t16b) the
    exact oracle. The multi-wave unit test pins the other contract:
    waves touching DISJOINT cell sets commute (their repair records
    concatenate), which is how a queue actually applies them.

    The per-batch collect is the repair record (affected-cells rows, the
    write-back payload), never corpus data."""
    from ..plans.bucketing import ensure_sq8_clustered_store
    from ..tables import load_tables

    name = ensure_sq8_clustered_store(spark, sf_dir, n_centroids)
    vmap = spark.table(name).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )
    src = load_tables(spark, sf_dir)["embeddings"]
    cents = src.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("c_cid"), F.col("embedding").alias("ce")
    )

    import os as _os

    table_path = f"{sf_dir}/embeddings.parquet"
    reader = spark.readStream.schema(src.schema)
    if _os.path.isdir(table_path):
        qsrc = reader.parquet(table_path)
    else:
        qsrc = reader.option("pathGlobFilter", "embeddings.parquet").parquet(sf_dir)
    # the delete REQUEST stream: ids only (an erasure queue carries ids)
    stream = qsrc.filter(F.col("vec_id") % del_mod == del_rem).select(
        F.col("vec_id").alias("del_id")
    )

    out: list[tuple] = []

    def _apply(batch_df: DataFrame, _bid: int) -> None:
        if batch_df.isEmpty():
            return
        from ..functions import vector as V
        from ..operators.refresh import _delete_repair_stats

        dels = batch_df.select("del_id").distinct()
        affected = (
            vmap.join(F.broadcast(dels), vmap["vec_id"] == dels["del_id"])
            .select(F.col("cid").alias("a_cid"))
            .distinct()
        )
        members = vmap.join(
            F.broadcast(affected), F.col("cid") == F.col("a_cid")
        ).select("vec_id", "cid")
        members = members.join(
            F.broadcast(dels),
            members["vec_id"] == dels["del_id"],
            "left",
        ).select(
            "vec_id", "cid", F.col("del_id").isNotNull().alias("is_del")
        )
        dist = (
            src.join(F.broadcast(members), "vec_id")
            .join(F.broadcast(cents), F.col("cid") == F.col("c_cid"))
            .select(
                "cid",
                "is_del",
                V.euclidean_distance("embedding", "ce").alias("dc"),
            )
        )
        out.extend(tuple(r) for r in _delete_repair_stats(dist).collect())

    q = stream.writeStream.foreachBatch(_apply).trigger(availableNow=True).start()
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("st22 streaming erasure did not finish in 180s")
    return spark.createDataFrame(
        out,
        "cid long, n_before long, n_deleted long, n_after long, r_cell_after double",
    )


def streaming_cms_heavy_hitters(spark, sf_dir: str) -> DataFrame:
    """ST23: always-on Count-Min frequency monitoring — a27's streaming
    twin. The sketch IS streaming state by construction: one streaming
    aggregation over the R×W (seed, bucket) cells, integer counts (exact,
    order-free — fwd/rev tested), bounded at 2048 rows regardless of
    ingest volume. The point-estimation finisher (probe the exact top-N
    terms, min over rows) runs as a BATCH join against the completed
    sketch table — downstream of the stream, exactly where a serving
    layer would query the live synopsis. The probe list comes from the
    stored corpus (fixed model state, like st20's merge table), so the
    streamed output equals the batch a27 table bit-for-bit once the
    stream has consumed the full input — the shared oracle checks
    exactly that.

    Why a store runs this: hot-term drift per micro-batch IS boilerplate
    arriving (a crawler stuck on a template, a dump of navigation
    chrome) — the signal to trigger d15/d17 triage before the corpus
    absorbs it, at the cost of a 2048-row always-on state table."""
    import uuid

    from ..functions import text as T
    from ..operators.misc import (
        CMS_SEEDS,
        CMS_W,
        _cms_cells,
        cms_probe_finisher,
    )
    from ..tables import load_tables

    docs = documents_stream(spark, sf_dir)
    sketch_plan = (
        docs.select(F.explode(T.words("text")).alias("term"))
        .select(_cms_cells(F.col("term"), CMS_SEEDS, CMS_W).alias("sb"))
        .select("sb.seed", "sb.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sketch = run_to_memory(
        spark, sketch_plan, f"st23_{uuid.uuid4().hex[:8]}"
    )

    static_docs = load_tables(spark, sf_dir)["documents"]
    tok = static_docs.select(F.explode(T.words("text")).alias("term"))
    # shared finisher with the batch a27 form (ADVICE r7: twins must not
    # drift on tie-breaking / the overcount column)
    return cms_probe_finisher(sketch, tok)
