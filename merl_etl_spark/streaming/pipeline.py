"""Structured Streaming forms of the reference's incremental semantics
(SURVEY.md §2.J).

The reference is cron-driven micro-batch: per-stream block cursors
(merlin_etl.py:353-357,462-463), 6h tumbling snapshot buckets
(merlin_etl.py:190-194), hourly sliding 60-minute lookbacks
(scripts/ingest_activity_and_report.sh:36), keyed dedup absorbing replays
(schema.sql:29,55,123), and job_runs audit rows (merlin_etl.py:133-152).
Structured Streaming gives each a first-class equivalent:

| reference behavior        | streaming form here                          |
|---------------------------|----------------------------------------------|
| cursor resume / GREATEST  | checkpointLocation offsets (monotone by
|                           | construction)                                |
| 6h tumbling snapshot      | window(ts, '6 hours') agg + watermark        |
| 60m sliding lookback      | window(ts, '60m', '15m') agg + watermark     |
| keyed replay dedup        | withWatermark + dropDuplicates(keys)         |
| single-writer flock       | one streaming query per checkpoint dir       |
| job audit rows            | sinks.run_with_audit + observe_stats         |

Everything uses ``Trigger.AvailableNow``-style processing (process all
available input, then stop) — the exact semantics of the reference's cron
runs, and the mode that scales to a real cluster unchanged.  The batch
twins in operators/windows_time.py share the same column logic, and tests
assert stream == batch output (stream-batch parity is the correctness
argument Structured Streaming is designed around).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from merl_etl_spark.operators.aggregates import dec_sum

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_NTZ_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events fixture — the micro-batch analog
    of the reference's paged REST source (src-tokentx-paged): bounded
    batches (maxFilesPerTrigger ↔ page size), resumable via checkpoint
    (↔ ingestion_cursors).

    The fixture's ``ts`` physical type has drifted across generations
    (TIMESTAMP(NANOS)-as-long vs TIMESTAMP(MICROS) no-TZ), so the stream
    schema is chosen from the file's actual footer type — a hardcoded
    schema silently misreads the other encoding (micros ÷1000 lands every
    event in January 1970).  One driver-side footer read per stream setup;
    the stream itself stays fully distributed."""
    import os

    from merl_etl_spark.sources.tables import ensure_session_confs

    ensure_session_confs(spark)  # vanilla sessions need nanosAsLong/UTC too
    ts_dtype = dict(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
    )["ts"]
    # file streams take a directory; glob-filter selects just the events table
    reader = spark.readStream.option(
        "maxFilesPerTrigger", max_files_per_trigger
    ).option("pathGlobFilter", "events.parquet")
    if ts_dtype == "bigint":
        raw = reader.schema(EVENTS_NANOS_SCHEMA).parquet(sf_dir)
        # nanos → micros with the batch loader's exact pmod FLOOR split
        # (sources/tables.py) — `ts div 1000` truncates toward zero, which
        # differs by 1µs for pre-1970 timestamps with sub-µs nanos
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    if ts_dtype == "timestamp_ntz":
        raw = reader.schema(EVENTS_NTZ_SCHEMA).parquet(sf_dir)
        # naive-UTC wall clock → UTC instant (session tz is UTC)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return reader.schema(EVENTS_SCHEMA).parquet(sf_dir)


def tumbling_6h_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """6h tumbling snapshot aggregation with late-data watermark — the
    streaming twin of stream-tumbling-6h."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # decimal sum internally; double at the output boundary — same
            # policy as the batch twin so stream==batch stays byte-equal
            dec_sum(F.col("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events", "total_value")
    )


def sliding_60m_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 60-minute / 15-minute windows — streaming twin of
    stream-sliding-60m."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "60 minutes", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Replay-absorbing keyed dedup: withWatermark +
    dropDuplicatesWithinWatermark on the conflict key — the streaming form
    of INSERT … ON CONFLICT DO NOTHING (stream-late-data;
    merlin_etl.py:446).  The WithinWatermark variant is what actually
    bounds state: plain dropDuplicates only evicts state when the
    event-time column is part of the key subset, otherwise it grows
    forever; here state for a key is dropped once the watermark passes
    it, so memory is bounded by the lateness horizon, not stream length."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id", "user_id", "event_type"]
    )


def dq_gate_stream(events: DataFrame) -> DataFrame:
    """Streaming data-quality gate: the dq-expectations predicate rules
    (operators/quality.py) as an incrementally-maintained global
    aggregate — each micro-batch folds its violation counts into the
    running totals (map-side partials, complete-mode output), so the
    gate's verdict is always current without rescanning history.

    Only the six predicate rules stream; the two exact-uniqueness rules
    need count-distinct state (unsupported in streaming aggs) — at
    production scale those run as the batch gate on each published
    snapshot, or approximately via the mergeable HLL sketch
    (agg-hll-merge).  Stream↔batch parity is pinned by
    tests/test_streaming.py."""
    from merl_etl_spark.operators.quality import _PREDICATE_RULES

    return events.agg(
        F.count(F.lit(1)).alias("n_checked"),
        *[
            F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(f"v{i}")
            for i, (_, pred) in enumerate(_PREDICATE_RULES)
        ],
    )


def purchase_click_attribution_stream(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each purchase attributed to the
    same user's clicks in the preceding attribution window — the
    two-stream correlation pattern (billing events × usage events) the
    reference handles by batch re-query, expressed as a true streaming
    join.  State on both sides is bounded by the watermark + the explicit
    time-range condition (Spark evicts rows whose join window has passed).

    ``how='left_outer'`` additionally emits unmatched purchases with NULL
    click columns — but only once the watermark has passed the purchase's
    join window (the engine cannot know a match will never arrive any
    earlier), so outer rows trail the inner ones by up to
    watermark + attribution_window of event time.  That deferred-NULL
    emission is the semantic difference from a batch left join and is
    pinned by tests/test_stream_stream_join.py."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {attribution_window}")),
        how,
    ).select("purchase_id", "user_id", "p_ts", "purchase_value", "click_id", "c_ts")


def activity_stream(
    events: DataFrame,
    top_wallets: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """The §3.3 hourly activity report as a LIVE query: stream-static
    semi-join against the (small, static) Top-100 wallet list, then
    windowed conditional in/out flow per (window, wallet).  The static
    side broadcasts into every micro-batch — the streaming form of
    ``wallet_address IN (SELECT holder_address …)``
    (scripts/ingest_activity_and_report.sh:37).  Emits one row per
    closed (60-minute window, wallet)."""
    wallets = F.broadcast(top_wallets.select(F.col("user_id")).distinct())
    return (
        events.withWatermark("ts", watermark)
        .join(wallets, "user_id", "left_semi")
        .groupBy(F.window("ts", "60 minutes").alias("w"), F.col("user_id"))
        .agg(
            dec_sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0)
            ).alias("in_amt"),
            dec_sum(
                F.when(F.col("event_type") == "error", F.col("value")).otherwise(0)
            ).alias("out_amt"),
            F.count("*").alias("txs"),
        )
        .select(F.col("w.start").alias("window_start"), "user_id", "in_amt", "out_amt", "txs")
    )


def run_top100_maintenance(
    spark: SparkSession,
    holders_stream: DataFrame,
    token: str,
    state_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous Top-100 maintenance: the §3.2 cron job as a streaming
    pipeline, correct under ARBITRARY batching (a bucket's snapshot may
    arrive split across micro-batches, with replays).  Per micro-batch:

    1. MERGE the batch into the holders state table via
       ``sinks.merge_into_parquet`` (last-wins on the conflict key,
       bucket-scoped: only the touched (contract, bucket) partitions are
       read, and each is written once).  The merge returns the touched
       partitions, so the batch is read twice — once for those values,
       once for the merge — and a batch with no row for ``token`` ends
       here.  State size therefore tracks LIVE holders, not ingestion
       history (VERDICT r5 "What's wrong" #3), and a crash mid-rewrite
       leaves Spark's ``.spark-staging-<jobId>`` directory under the
       state table holding the full merged partitions (the documented
       merge_into_parquet recovery contract);
    2. re-derive the Top-100 for exactly the touched slices, reading the
       (already-deduped) state for those slices — partition pruning keeps
       this proportional to the touched buckets, not the table;
    3. dynamic-partition-overwrite those output slices — the idempotent
       delete+insert semantics (sql/top100_from_latest_bucket.sql:119-158).

    Deriving from the batch alone would silently produce partial Top-100s
    whenever a bucket spans batches — state-then-derive is the correct
    incremental-view-maintenance shape at any scale.  Replays are safe end
    to end: foreachBatch re-runs re-merge identical rows (keyed last-wins
    collapses them) and the output overwrite is idempotent."""
    from merl_etl_spark.plans.jobs import scale_and_rank_top100
    from merl_etl_spark.sinks import merge_into_parquet

    token_l = token.lower()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.filter(F.col("contract_address") == token_l)
        touched_parts = merge_into_parquet(
            spark,
            state_dir,
            batch,
            keys=["bucket_start_utc", "contract_address", "holder_address"],
            order_by=[F.col("updated_at").desc(), F.col("quantity_raw").desc()],
            partition_cols=["contract_address", "bucket_start_utc"],
        )
        touched = [bucket for _, bucket in touched_parts]
        if not touched:
            return
        state = (
            spark.read.parquet(state_dir)
            .filter(F.col("contract_address") == token_l)
            .filter(F.col("bucket_start_utc").isin(touched))
        )
        top = scale_and_rank_top100(state).select(
            "bucket_start_utc", "contract_address", "rnk", "holder_address", "balance"
        )
        (
            top.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("contract_address", "bucket_start_utc")
            .parquet(output_dir)
        )

    return (
        holders_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_window_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-user 30-minute-gap session windows — streaming twin of
    stream-session-window.  session_window state is mergeable (two
    overlapping sessions collapse when a bridging event arrives), and
    with a watermark the engine evicts sessions once no event can
    extend them; in append mode only those finalized sessions emit."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
