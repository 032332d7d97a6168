"""The custom stateful operator must converge to the batch answer: after
processing the whole stream, each wallet's running totals equal a plain
batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from merl_etl_spark.pyfiles import ensure_package_on_workers
from merl_etl_spark.sources.tables import load_table
from merl_etl_spark.streaming.pipeline import stream_events
from merl_etl_spark.streaming.stateful import running_flow_stream


def test_running_flow_state_matches_batch(spark, sf_dir):
    ensure_package_on_workers(spark)
    out = (
        running_flow_stream(stream_events(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("flow_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(300)
    # last snapshot per user = final state
    from pyspark.sql import Window

    snaps = spark.table("flow_state")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        snaps.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )

    events = load_table(spark, sf_dir, "events")
    batch = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)).alias(
            "in_amt"
        ),
        F.sum(F.when(F.col("event_type") == "error", F.col("value")).otherwise(0.0)).alias(
            "out_amt"
        ),
        F.count("*").alias("n_events"),
        F.max("event_id").alias("last_block"),
    )
    f = {r.user_id: r for r in final.collect()}
    b = {r.user_id: r for r in batch.collect()}
    assert set(f) == set(b)
    for uid, fb in b.items():
        fs = f[uid]
        assert fs.n_events == fb.n_events and fs.last_block == fb.last_block
        assert fs.in_amt == pytest.approx(fb.in_amt, rel=1e-9)
        assert fs.out_amt == pytest.approx(fb.out_amt, rel=1e-9)
