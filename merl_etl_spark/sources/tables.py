"""Loaders for the driver-generated parquet fixtures (TESTDATA.md).

At 100 TB these would be partitioned parquet/lakehouse datasets; a plain
``spark.read.parquet`` keeps partition pruning, predicate pushdown, and
column pruning intact because every downstream operator expresses its
filters/projections declaratively (Catalyst pushes them into the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Event-time columns whose parquet physical type has drifted across
# fixture generations.  Every consumer must see Spark ``TIMESTAMP``
# (UTC-instant), so the loader normalizes by ACTUAL dtype, not by
# assumption:
# - TIMESTAMP(NANOS) → Spark reads nanosecond longs (with
#   spark.sql.legacy.parquet.nanosAsLong) → floor-truncate to micros,
#   matching DuckDB's truncation so oracle comparisons agree;
# - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark reads TIMESTAMP_NTZ
#   → cast to TIMESTAMP (session tz is UTC, so the instant is unchanged);
# - TIMESTAMP(MICROS, isAdjustedToUTC=true) → already TIMESTAMP, no-op.
EVENT_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# Runtime session requirements.  The external driver hands queries its OWN
# SparkSession (built without this engine's session.py), so every entry
# point must self-configure:
# - nanosAsLong: without it the events table errors with PARQUET_TYPE_ILLEGAL;
# - UTC session tz: all reference semantics and formatted outputs are UTC;
# - ANSI off: the documented decimal overflow→NULL policy (SURVEY §1.3).
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Arrow: pandas interchange for the UDF kernels and fixture frames
    # (vanilla sessions default it off, where nullable-int pandas columns
    # fail row-wise type verification)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in EVENT_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            # nanos-as-long fixtures: floor division via exact pmod split —
            # `div` truncates toward zero (wrong for pre-1970 nanos), and
            # double division loses precision at int64 magnitudes
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
                ),
            )
        elif dtype == "timestamp_ntz":
            # micros no-TZ fixtures: reinterpret the naive-UTC wall clock
            # as a UTC instant (session tz pinned to UTC above, so the
            # cast is value-preserving)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df

