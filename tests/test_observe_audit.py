"""observe()-based audit metrics: row accounting computed during the
consuming action itself — no second scan — in both batch and streaming,
and integrated with the run_with_audit discipline."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from merl_etl_spark.sinks import observe_stats, run_with_audit
from merl_etl_spark.sources.tables import load_table


def test_batch_observe_matches_direct_counts(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    observed, obs = observe_stats(
        events,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
        # DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS) — the sketch estimate is the
        # observable cardinality channel
        F.approx_count_distinct("user_id").alias("n_users_approx"),
    )
    observed.write.mode("overwrite").format("noop").save()
    got = obs.get
    want = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    ).first()
    assert got["n_rows"] == want["n_rows"]
    assert got["total_value"] == want["total_value"]
    exact_users = events.select("user_id").distinct().count()
    assert abs(got["n_users_approx"] - exact_users) <= 0.05 * exact_users


def test_observe_feeds_run_with_audit(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    audit_log: list = []

    def body():
        observed, obs = observe_stats(
            events.filter(F.col("event_type") == "purchase"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        observed.write.mode("overwrite").format("noop").save()
        return None, dict(obs.get)

    run_with_audit("observed-job", "2026-08-14T00:00:00", body, audit_log)
    assert len(audit_log) == 1 and audit_log[0]["status"] == "success"
    stats = json.loads(audit_log[0]["stats"])
    assert stats["n_rows"] == events.filter(F.col("event_type") == "purchase").count()


def test_streaming_observe_in_progress(spark, sf_dir, tmp_path):
    """Streaming observe: per-batch metrics surface in the query progress
    (observedMetrics) — the zero-cost streaming audit channel."""
    # a file stream reads a directory; the glob picks the events table
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .observe("audit", F.count(F.lit(1)).alias("n_rows"))
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    totals = 0
    for p in q.recentProgress:
        om = p.get("observedMetrics") or {}
        if "audit" in om:
            totals += om["audit"]["n_rows"]
    from merl_etl_spark.sources.tables import load_table as lt

    assert totals == lt(spark, sf_dir, "events").count()
