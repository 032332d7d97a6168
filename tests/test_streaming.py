"""Structured Streaming tests: stream results must equal the batch twins
(stream-batch parity), and watermark dedup must absorb replays.  Checkpoint
resume (the cursor semantics) is checked on the merl-blockcursor source in
test_datasource.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from merl_etl_spark.registry import QUERIES, load_all
from merl_etl_spark.streaming.pipeline import (
    dedup_stream,
    dq_gate_stream,
    sliding_60m_stream,
    stream_events,
    tumbling_6h_stream,
)

load_all()


def _run_to_memory(spark, stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def _canon(df):
    return sorted(map(tuple, ((str(v) for v in row) for row in df.collect())))


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream_out = _run_to_memory(
        spark, tumbling_6h_stream(stream_events(spark, sf_dir)), "t6h", "complete"
    ).withColumn("bucket_start", F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    batch_out = QUERIES["stream-tumbling-6h"](spark, sf_dir)
    assert _canon(stream_out) == _canon(batch_out)


def test_sliding_stream_matches_batch(spark, sf_dir):
    stream_out = _run_to_memory(
        spark, sliding_60m_stream(stream_events(spark, sf_dir)), "s60m", "complete"
    ).withColumn("window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    batch_out = QUERIES["stream-sliding-60m"](spark, sf_dir)
    assert _canon(stream_out) == _canon(batch_out)


def test_dedup_stream_absorbs_replays(spark, sf_dir):
    out = _run_to_memory(
        spark, dedup_stream(stream_events(spark, sf_dir)), "dedup", "append"
    )
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_src  # fixture has unique events: dedup is lossless
    assert out.groupBy("event_id", "user_id", "event_type").count().filter(
        "count > 1"
    ).count() == 0


def test_dq_gate_stream_matches_batch(spark, sf_dir):
    """The streaming DQ gate's running counters must equal the batch
    dq-expectations predicate-rule rows after the stream drains — the
    same violation counts, incrementally maintained."""
    stream_out = _run_to_memory(
        spark, dq_gate_stream(stream_events(spark, sf_dir)), "dqgate", "complete"
    ).collect()
    assert len(stream_out) == 1
    got = stream_out[0]
    batch = {r.rule: r for r in QUERIES["dq-expectations"](spark, sf_dir).collect()}
    from merl_etl_spark.operators.quality import _PREDICATE_RULES

    for i, (name, _) in enumerate(_PREDICATE_RULES):
        assert getattr(got, f"v{i}") == batch[name].n_violations, name
        assert got.n_checked == batch[name].n_checked


def test_session_window_stream_matches_batch(spark, sf_dir):
    """Streaming session windows (complete mode: every session, closed or
    not) must byte-match the batch session_window query."""
    from merl_etl_spark.streaming.pipeline import session_window_stream

    stream_out = (
        _run_to_memory(
            spark, session_window_stream(stream_events(spark, sf_dir)), "sess", "complete"
        )
        .withColumn("session_start", F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .withColumn("session_end", F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    )
    batch_out = QUERIES["stream-session-window"](spark, sf_dir)
    assert _canon(stream_out) == _canon(batch_out)
