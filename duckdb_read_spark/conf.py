"""Engine configuration — the pinned SparkSession confs (SURVEY §7 P0).

The reference engine opens a database with a config object and applies
session settings at startup (DBConfig / safe mode, /root/reference/duckdb:83,
122-125).  Our equivalent is a set of SQL confs pinned on whatever
SparkSession we are handed.  All of these are *runtime-settable* SQL confs,
so they work both when we build the session ourselves (Engine.open) and
when a host hands us an existing one (the driver does this).
"""

from __future__ import annotations

TABLES = (
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

# SQL confs applied to every session the engine touches.
# - timeZone UTC: deterministic timestamp semantics, matches the oracle.
# - nanosAsLong: events.ts is INT64 TIMESTAMP(NANOS) which vanilla Spark
#   refuses to read (PARQUET_TYPE_ILLEGAL); with this legacy flag it reads
#   as LongType and catalog.py re-derives a microsecond timestamp
#   (SURVEY §1.3 / §2.4.4).
# - ANSI on: matches DuckDB's error-on-overflow / div-by-zero behaviour
#   (SURVEY §2.4.10). Spark 4 default, pinned anyway.
# - AQE on (+ skew join): runtime re-planning — partition coalescing,
#   SMJ→broadcast conversion, skew splitting. Essential at 100 TB where
#   static stats are stale.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet timestamps (isAdjustedToUTC=false) must read as
    # TIMESTAMP_LTZ, not TIMESTAMP_NTZ: session tz is pinned UTC so the
    # two agree on wall-clock values, but NTZ forbids epoch casts
    # (CAST(ts AS DOUBLE)) that the query surface and DuckDB both allow.
    # The fixture generator has emitted both INT64(NANOS) and plain µs
    # footers across rounds; this makes either read identically.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (similarity / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Confs that must be set at session *build* time (ignored if the session
# already exists — harmless, the runtime set above still applies).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def apply_runtime_confs(spark) -> None:
    """Pin the engine confs on an existing SparkSession (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — acceptable; engine-built sessions
            # set it at build time instead.
            pass
