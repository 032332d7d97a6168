"""Compaction must shrink file counts without changing data."""

from __future__ import annotations

from pyspark.sql import functions as F

from merl_etl_spark.sinks import compact_parquet
from merl_etl_spark.sources.tables import load_table


def _canon(df):
    return sorted(map(tuple, ((str(v) for v in r) for r in df.select(sorted(df.columns)).collect())))


def test_compaction_shrinks_files_preserves_data(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    events = load_table(spark, sf_dir, "events")
    # simulate micro-batch fragmentation: 40 tiny appends
    events.repartition(40).write.mode("overwrite").parquet(path)
    before_canon = _canon(spark.read.parquet(path).select("event_id", "user_id", "value"))

    files_before, files_after = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert files_before >= 40 and files_after < files_before

    after = spark.read.parquet(path)
    assert _canon(after.select("event_id", "user_id", "value")) == before_canon


def test_partitioned_compaction_keeps_layout(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag_part")
    events = load_table(spark, sf_dir, "events").withColumn(
        "etype", F.col("event_type")
    )
    events.repartition(30).write.mode("overwrite").partitionBy("etype").parquet(path)
    n_before = spark.read.parquet(path).count()
    files_before, files_after = compact_parquet(
        spark, path, target_file_bytes=64 * 1024 * 1024, partition_cols=["etype"]
    )
    assert files_after < files_before
    df = spark.read.parquet(path)
    assert df.count() == n_before
    # partition layout survived: pruning still works
    plan = df.filter(F.col("etype") == "click")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
