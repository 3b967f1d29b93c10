"""Test-data table loading + view registration.

Mirrors the reference's catalog bootstrap (`src/server/app/database/
registry.py:29-77` discovers tables then registers them with the app); here
the "catalog" is the driver-provided parquet directory and registration is
`createOrReplaceTempView` so both the DataFrame API and `spark.sql`/NL2SQL
paths see the same relations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# DataFrame-handle memo, keyed per live session (weak: a stopped session's
# entries vanish with it), then per sf_dir, then per table with the table
# path's stamp. This is METADATA reuse, not result caching: each
# `spark.read.parquet` costs a driver-side footer read + a 1-task schema
# job, and the engine's query functions call load_tables per invocation —
# measured r11, a 125-query bench session paid ~10 such jobs per query
# (~0.3-0.8 s each call) re-deriving identical scan plans. The memoized
# DataFrame is an UNEXECUTED plan: every materialization still scans the
# parquet files; nothing about results or data is retained. A production
# session holds table handles in exactly this way (catalog/metastore
# lookup once per table). A table rewritten since its handle was made
# (another mtime or size) gets a fresh handle, so a memo keyed by handles
# (similarity._IVF_MEMO) never serves state built from the old files.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, tuple]]]" = None  # type: ignore[assignment]


def _stamp(path: str) -> tuple[int, int] | None:
    """(mtime ns, size) of a local table path; None when it cannot be
    stat'ed (a remote URI, or a missing table the read then reports)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver parquet table as a DataFrame.

    Plain `spark.read.parquet` — schema comes from parquet footers (no
    inference pass), filters/projections push down to the scan. Handles
    are memoized per (session, sf_dir, table stamp); callers get a fresh
    dict, so overwriting an entry (the sample_mod pattern) never leaks
    into other callers.
    """
    global _TABLE_MEMO
    if _TABLE_MEMO is None:
        import weakref

        _TABLE_MEMO = weakref.WeakKeyDictionary()
    per_dir = _TABLE_MEMO.setdefault(spark, {}).setdefault(os.path.abspath(sf_dir), {})
    tables = {}
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        stamp = _stamp(path)
        held = per_dir.get(name)
        if held is None or held[0] != stamp:
            df = spark.read.parquet(path)
            if name == "events":
                df = normalize_event_ts(df)
            held = per_dir[name] = (stamp, df)
        tables[name] = held[1]
    return tables


def normalize_event_ts(ev: DataFrame) -> DataFrame:
    """Pin `events.ts` to TIMESTAMP_NTZ regardless of session config.

    The driver parquet stores ts as TIMESTAMP(NANOS); Spark 4 reads that as
    TIMESTAMP_NTZ (µs-truncated), a `nanosAsLong` session reads it as bigint,
    and hand-built test fixtures may carry a tz-aware TIMESTAMP. All engine
    timestamp arithmetic (epoch math, window bucketing, struct casts) assumes
    ONE type, so every flavor converges here. ns→µs uses integer division —
    a double round-trip would lose precision (2024 epoch-ns overflows the
    53-bit mantissa) — and tz-aware casts are deterministic under the UTC
    session default.
    """
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        ev = ev.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    elif ts_type == "timestamp":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return ev


def epoch_us(col: str | F.Column) -> F.Column:
    """Microseconds since epoch for a TIMESTAMP_NTZ column.

    `unix_micros` only accepts tz-aware TIMESTAMP, so NTZ epoch math goes
    through `timestamp_diff` against the NTZ epoch literal — pure integer
    arithmetic, no tz shift, bit-identical to DuckDB's `epoch_us`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (the NL2SQL surface)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
