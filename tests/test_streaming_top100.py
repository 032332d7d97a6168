"""Continuous Top-100 maintenance must converge to the batch derivation:
streaming the holder snapshots through foreachBatch partition-overwrite
produces exactly derive_top100's output for every bucket."""

from __future__ import annotations

from pyspark.sql import functions as F

from merl_etl_spark.plans.jobs import derive_top100
from merl_etl_spark.streaming.pipeline import run_top100_maintenance
from tests.fixtures import HOLDERS_SPARK_SCHEMA, TOKENS, holders_pdf


def test_streaming_top100_converges_to_batch(spark, tmp_path):
    src = str(tmp_path / "holders_src")
    holders = spark.createDataFrame(holders_pdf(n_holders=200), schema=HOLDERS_SPARK_SCHEMA)
    # many small files + a shuffled row order: every bucket's snapshot is
    # guaranteed to span several micro-batches (the partial-arrival case a
    # batch-only derivation would get wrong)
    holders.orderBy(F.rand(seed=7)).repartition(12).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(HOLDERS_SPARK_SCHEMA).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    q = run_top100_maintenance(
        spark,
        stream,
        TOKENS[0],
        str(tmp_path / "state"),
        str(tmp_path / "top100"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "top100"))
    # streamed output covers every bucket, not just the latest: compare
    # per-bucket against the batch rank over the full snapshot table
    from merl_etl_spark.plans.jobs import scale_and_rank_top100

    want = scale_and_rank_top100(
        holders.filter(F.col("contract_address") == TOKENS[0])
    ).select("bucket_start_utc", "contract_address", "rnk", "holder_address", "balance")

    canon = lambda df: sorted(  # noqa: E731
        map(tuple, ((str(v) for v in r) for r in df.select(sorted(df.columns)).collect()))
    )
    assert canon(got) == canon(want)
    # latest bucket slice == derive_top100 (the §3.2 batch job)
    latest = derive_top100(holders, TOKENS[0]).select(
        "bucket_start_utc", "contract_address", "rnk", "holder_address", "balance"
    )
    latest_bucket = latest.agg(F.max("bucket_start_utc")).collect()[0][0]
    got_latest = got.filter(F.col("bucket_start_utc") == latest_bucket)
    assert canon(got_latest) == canon(latest)


def test_state_dir_stays_bounded_under_replays(spark, tmp_path):
    """Every holder key arrives 3× across many micro-batches; the per-batch
    compaction (deduped frame written back over the touched state
    partitions) must leave state row count == LIVE holders — not 3× the
    ingestion history — and a file count bounded per partition, not per
    micro-batch (VERDICT r5 'What's wrong' #3)."""
    import glob

    src = str(tmp_path / "src")
    holders = spark.createDataFrame(holders_pdf(n_holders=120), schema=HOLDERS_SPARK_SCHEMA)
    replayed = holders.unionByName(holders).unionByName(holders)
    replayed.orderBy(F.rand(seed=11)).repartition(18).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(HOLDERS_SPARK_SCHEMA).option(
        "maxFilesPerTrigger", 2
    ).parquet(src)
    q = run_top100_maintenance(
        spark,
        stream,
        TOKENS[0],
        str(tmp_path / "state"),
        str(tmp_path / "top100"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    state = spark.read.parquet(str(tmp_path / "state"))
    live = (
        holders.filter(F.col("contract_address") == TOKENS[0])
        .select("bucket_start_utc", "contract_address", "holder_address")
        .distinct()
        .count()
    )
    assert state.count() == live, "state must hold one row per live holder key"
    files = glob.glob(str(tmp_path / "state") + "/**/*.parquet", recursive=True)
    n_parts = state.select("contract_address", "bucket_start_utc").distinct().count()
    assert len(files) <= n_parts * 8, (
        f"{len(files)} state files across {n_parts} partitions — growing "
        f"with micro-batch count instead of staying compacted"
    )


def test_restart_after_a_crash_between_state_and_top100_matches_uninterrupted(
    spark, tmp_path, monkeypatch
):
    """Kill point after the state merge is published and before the
    Top-100 is written: the first Top-100 ranking of the first
    micro-batch fails, the query dies, and a restart on the same
    checkpoint replays that batch.  The re-merge of identical rows must
    collapse (keyed last-wins) and the run must end with exactly the
    state and Top-100 of an uninterrupted run — replays are safe end to
    end."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from merl_etl_spark.plans import jobs

    src = str(tmp_path / "src")
    holders = spark.createDataFrame(holders_pdf(n_holders=120), schema=HOLDERS_SPARK_SCHEMA)
    holders.orderBy(F.rand(seed=5)).repartition(6).write.mode("overwrite").parquet(src)

    def run(name: str):
        stream = spark.readStream.schema(HOLDERS_SPARK_SCHEMA).option(
            "maxFilesPerTrigger", 2
        ).parquet(src)
        q = run_top100_maintenance(
            spark,
            stream,
            TOKENS[0],
            str(tmp_path / name / "state"),
            str(tmp_path / name / "top100"),
            str(tmp_path / name / "ckpt"),
        )
        q.awaitTermination(300)

    run("clean")

    real, calls = jobs.scale_and_rank_top100, []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash before the Top-100 write")
        return real(*args, **kwargs)

    monkeypatch.setattr(jobs, "scale_and_rank_top100", crash_once)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run("crashed")
    # the crash landed between the two writes: state published, no Top-100
    assert spark.read.parquet(str(tmp_path / "crashed" / "state")).count() > 0
    assert not (tmp_path / "crashed" / "top100").exists()
    run("crashed")

    canon = lambda df: sorted(  # noqa: E731
        map(tuple, ((str(v) for v in r) for r in df.select(sorted(df.columns)).collect()))
    )
    for table in ("state", "top100"):
        want = spark.read.parquet(str(tmp_path / "clean" / table))
        got = spark.read.parquet(str(tmp_path / "crashed" / table))
        assert canon(got) == canon(want), table
