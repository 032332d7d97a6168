"""Event-time windowing + incremental (batch-form) operators
(SURVEY.md §2.C time filters, §2.J streaming semantics).

The reference's cadences: 6-hour tumbling snapshot buckets
(merlin_etl.py:190-194), hourly jobs over a sliding 60-minute lookback
(scripts/ingest_activity_and_report.sh:36), and per-stream high-watermark
cursors (schema.sql:135-141).  Batch forms here are driver-checkable
against SQL oracles; the true Structured Streaming forms live in
``merl_etl_spark.streaming`` (same column logic, shared where possible).

Scale notes: ``F.window`` is a projection (no shuffle) — the shuffle
happens only at the following groupBy, keyed by (window, group), which
partial-aggregates map-side.  Sliding windows multiply rows by
width/slide; we keep that explicit and bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from merl_etl_spark.operators.aggregates import dec_sum
from merl_etl_spark.operators.joins import TS_FMT_DUCK, TS_FMT_SPARK
from merl_etl_spark.registry import register
from merl_etl_spark.sources.tables import load_table


# re-exported for callers; one canonical implementation (fn-floor-6h's
# generalization) lives in the scalar library
from merl_etl_spark.functions.scalar import floor_to_bucket  # noqa: E402, F401


@register(
    "filter-time-window",
    oracle=f"""
    WITH asf AS (SELECT max(ts) AS asof_ts FROM events)
    SELECT e.event_id, e.user_id, e.event_type,
           strftime(e.ts, '{TS_FMT_DUCK}') AS ts_str
    FROM events e, asf a
    WHERE e.ts >= a.asof_ts - INTERVAL 60 MINUTE
    """,
)
def filter_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 60-minute event-time lookback: ``block_time_utc >= now() -
    interval '60 minutes'`` (scripts/ingest_activity_and_report.sh:36,82)
    with now() frozen to max(ts) for determinism."""
    events = load_table(spark, sf_dir, "events")
    asof = F.broadcast(events.agg(F.max("ts").alias("asof")))
    return (
        events.crossJoin(asof)
        .filter(F.col("ts") >= F.col("asof") - F.expr("INTERVAL 60 MINUTES"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        )
    )


@register(
    "filter-blockrange",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id BETWEEN 1000 AND 2000 AND user_id = 3
    """,
)
def filter_blockrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-side block-range predicate startblock…endblock for one stream
    (merlin_etl.py:372-374).  Both predicates push down to the parquet scan
    (PushedFilters) — at 100 TB this is the difference between reading one
    row-group and reading the table."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(
        F.col("event_id").between(1000, 2000) & (F.col("user_id") == 3)
    ).select("event_id", "user_id", "event_type", "value")


@register(
    "stream-tumbling-6h",
    oracle=f"""
    SELECT strftime(to_timestamp(CAST(floor(CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) / 21600.0) AS BIGINT) * 21600),
                    '{TS_FMT_DUCK}') AS bucket_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour tumbling snapshot buckets (merlin_etl.py:190-194 floor-6h;
    scripts/run_holders_and_top100.sh:31-37): per-(bucket, type) rollup.
    Uses ``F.window(ts, '6 hours')`` — the Structured Streaming-compatible
    form; window.start equals the 00/06/12/18 UTC floor."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("bucket_start"),
            "event_type",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


@register(
    "stream-sliding-60m",
    oracle=f"""
    SELECT strftime(to_timestamp(
             CAST(floor((CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) - o.off) / 3600.0) AS BIGINT) * 3600 + o.off),
             '{TS_FMT_DUCK}') AS window_start,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    CROSS JOIN (SELECT unnest([0, 900, 1800, 2700]) AS off) o
    GROUP BY 1
    """,
)
def stream_sliding_60m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 60-minute windows, 15-minute slide — the hourly lookback as a
    first-class sliding window (scripts/ingest_activity_and_report.sh:36 →
    §2.J stream-sliding-60m).  Each event lands in width/slide = 4 windows;
    ``F.window(ts, '60 minutes', '15 minutes')``."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "60 minutes", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("window_start"),
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


@register(
    "stream-cursor-resume",
    oracle="""
    WITH cursors AS (
      SELECT user_id,
             min(event_id) + (max(event_id) - min(event_id)) // 2 AS last_scanned_block
      FROM events GROUP BY user_id
    )
    SELECT e.user_id AS stream,
           count(*) AS new_rows,
           max(e.event_id) AS new_cursor
    FROM events e
    JOIN cursors c ON e.user_id = c.user_id
    WHERE e.event_id > c.last_scanned_block
    GROUP BY e.user_id
    """,
)
def stream_cursor_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark resume: only rows past the per-stream cursor are
    ingested, and the cursor advances to max(block) (merlin_etl.py:353-357,
    462-463).  A synthetic cursor table (median event id per stream) stands
    in for ingestion_cursors; the filter is the batch analog of
    startingOffsets/checkpoint resume."""
    events = load_table(spark, sf_dir, "events")
    cursors = events.groupBy("user_id").agg(
        (
            F.min("event_id")
            + ((F.max("event_id") - F.min("event_id")) / F.lit(2)).cast("bigint")
        ).alias("last_scanned_block")
    )
    return (
        events.join(F.broadcast(cursors), "user_id")
        .filter(F.col("event_id") > F.col("last_scanned_block"))
        .groupBy(F.col("user_id").alias("stream"))
        .agg(F.count("*").alias("new_rows"), F.max("event_id").alias("new_cursor"))
    )


@register(
    "stream-session-window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    islands AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap via
    ``F.session_window`` — the Structured-Streaming-native session
    operator; a stream runs this same plan.  Unlike win-sessionize (the lag/cumsum island form over a plain
    window), this is the mergeable representation the streaming engine
    can maintain incrementally with watermark-evicted state.

    Semantics pinned by the oracle: two events belong to one session
    when their gap is ≤ 30 min (session_window merges on interval
    *overlap or touch*, so the island flag fires only on gap > 30 min),
    and ``window.end`` is last-event + gap.  Value sums ride DecimalType
    (order-insensitive) with one cast to double at the boundary."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT_SPARK).alias("session_end"),
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )
