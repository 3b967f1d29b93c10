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

from .cache import held

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


def _stamp(path: str) -> tuple[int, int] | None:
    """(mtime ns, size) of a local table path; None when it cannot be
    stat'ed (a remote URI, or a missing table the read then reports)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver parquet table as a DataFrame.

    Plain `spark.read.parquet` — schema comes from parquet footers (no
    inference pass), filters/projections push down to the scan. Each
    handle is held per session (`cache.held`) under the table file's
    stamp: every read costs a footer read and a 1-task schema job (r11:
    ~10 per bench query), and a handle is an unexecuted plan, so reuse
    retains no data. A table rewritten since (another mtime or size) gets
    a fresh handle, so state held per handle (the IVF models) is never
    served from the old files. Callers get a fresh dict, so overwriting an
    entry (the sample_mod pattern) never leaks into other callers.
    """
    root = os.path.abspath(sf_dir)
    return {
        name: held(spark, ("table", root, name),
                   lambda name=name: _read(spark, sf_dir, name),
                   stamp=_stamp(f"{sf_dir}/{name}.parquet"))
        for name in TABLE_NAMES
    }


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
