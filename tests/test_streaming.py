"""Streaming ≡ batch parity: the streaming windowed aggregation over the
static snapshot must equal the batch tumbling-window operator (the defining
property of Structured Streaming)."""

from __future__ import annotations

from ai_optimizer_spark.operators.events import tumbling_window_counts
from ai_optimizer_spark.streaming.event_stream import (
    ProgressRecorder,
    events_stream,
    run_to_memory,
    windowed_counts,
)
from ai_optimizer_spark.tables import load_tables


def test_streaming_matches_batch(spark, sf_small):
    listener = ProgressRecorder()
    spark.streams.addListener(listener)
    try:
        stream_plan = windowed_counts(events_stream(spark, sf_small))
        got = run_to_memory(spark, stream_plan, "win_counts_test")
        want = tumbling_window_counts(load_tables(spark, sf_small))
        g = {tuple(r) for r in got.collect()}
        w = {tuple(r) for r in want.collect()}
        assert g == w and len(g) > 0
        assert listener.await_terminated(60)
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.started) >= 1
    assert sum(p["num_input_rows"] for p in listener.progress) > 0


def test_session_windows_match_batch_sessionize(spark, sf_small):
    """Streaming session_window sessions must agree with the batch
    lag+cumsum sessionization on every session the watermark finalized
    (append mode withholds sessions still open near the stream's end)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.events import sessionize
    from ai_optimizer_spark.streaming.event_stream import session_window_stats

    plan = session_window_stats(events_stream(spark, sf_small))
    q = (
        plan.writeStream.format("memory")
        .queryName("session_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
        for r in spark.table("session_stream_test").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.session_value)
        for r in sessionize(load_tables(spark, sf_small)).collect()
    }
    assert len(got) > 0
    assert got <= want  # every emitted session is a real batch session
    # and the withheld remainder is only the un-finalized tail
    max_ts = max(w[2] for w in want)
    finalized = {w for w in want if (max_ts - w[2]).total_seconds() > 2 * 3600 + 30 * 60}
    assert finalized <= got


def test_sliding_windows_match_batch(spark, sf_small):
    from ai_optimizer_spark.operators.events import sliding_window_counts
    from ai_optimizer_spark.streaming.event_stream import sliding_windowed_counts

    stream_plan = sliding_windowed_counts(events_stream(spark, sf_small))
    got = run_to_memory(spark, stream_plan, "sliding_counts_test")
    want = sliding_window_counts(load_tables(spark, sf_small))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_dedup_matches_batch_distinct(spark, sf_small, tmp_path):
    """A doubled input stream (same file staged twice) must come out of the
    streaming dedup as exactly the batch distinct-by-event_id set."""
    import shutil

    from pyspark.sql import functions as F

    from ai_optimizer_spark.streaming.dedup_stream import deduped_events

    src = tmp_path / "events_dup"
    src.mkdir()
    shutil.copy(f"{sf_small}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_small}/events.parquet", src / "b.parquet")

    static = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    from ai_optimizer_spark.tables import normalize_event_ts

    stream = normalize_event_ts(stream).withColumn("ts", F.col("ts").cast("timestamp"))

    plan = deduped_events(stream)
    q = (
        plan.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.event_id for r in spark.table("dedup_stream_test").collect()}
    want = {r[0] for r in static.select("event_id").distinct().collect()}
    assert got == want and len(got) > 0


def test_streaming_term_freq_matches_batch(spark, sf_small):
    """The incremental vocabulary equals the batch explode+count — same
    logical plan, run as a stream."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.streaming.event_stream import (
        documents_stream,
        streaming_term_doc_freq,
    )

    plan = streaming_term_doc_freq(documents_stream(spark, sf_small))
    got = {
        (r.term, r.doc_freq)
        for r in run_to_memory(spark, plan, "term_freq_test").collect()
    }
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    from ai_optimizer_spark.functions import text as T

    want = {
        (r.term, r.doc_freq)
        for r in docs.select(
            F.explode(F.array_distinct(T.words("text"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .collect()
    }
    assert got == want


def test_stream_stream_attribution_matches_batch(spark, sf_small):
    """Inner stream-stream interval join emits each match as soon as both
    sides arrive — on a static snapshot it must equal the batch self-join
    exactly (no rows withheld: inner-join output never waits for the
    watermark; the watermark only bounds state eviction)."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.operators.events import attributed_purchases
    from ai_optimizer_spark.streaming.event_stream import (
        attributed_purchases_stream,
    )

    ev = events_stream(spark, sf_small)
    plan = attributed_purchases_stream(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    q = (
        plan.writeStream.format("memory")
        .queryName("attribution_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("attribution_stream_test").collect()}
    want = {
        tuple(r)
        for r in attributed_purchases(load_tables(spark, sf_small)).collect()
    }
    assert got == want and len(got) > 0


def test_token_assembly_is_arrival_order_proof(spark, sf_small):
    """T6's reassembly must not depend on chunk arrival order (SSE ordering
    comes from TCP; Spark's collect_list order is task-nondeterministic, so
    the sort-by-seq must do the work): a deliberately scrambled, repartitioned
    chunk feed reassembles to the identical messages."""
    from pyspark.sql import functions as F

    from ai_optimizer_spark.streaming.token_stream import (
        assemble_messages,
        token_chunks,
    )

    docs = load_tables(spark, sf_small)["documents"].limit(50)
    chunks = token_chunks(docs)
    scrambled = chunks.orderBy(F.md5(F.concat_ws("|", "session_id", "seq"))).repartition(7)
    want = {tuple(r) for r in assemble_messages(chunks).collect()}
    got = {tuple(r) for r in assemble_messages(scrambled).collect()}
    assert got == want and len(got) == 50
