"""Deriving the Top-100 from the partitioned layout (the engine's
replacement for the reference's B-tree indexes, SURVEY.md §1.4) gives the
same rows as deriving it from the unpartitioned frame."""

from __future__ import annotations

from pyspark.sql import functions as F

from merl_etl_spark.plans.jobs import derive_top100
from tests.fixtures import HOLDERS_SPARK_SCHEMA, TOKENS, holders_pdf


def test_derivation_on_partitioned_layout(spark, tmp_path):
    """End-to-end: write partitioned, read back, derive Top-100 — results
    identical to deriving from the unpartitioned frame."""
    path = str(tmp_path / "holders_part2")
    holders = spark.createDataFrame(holders_pdf(), schema=HOLDERS_SPARK_SCHEMA)
    (
        holders.withColumn("bucket_date", F.to_date("bucket_start_utc"))
        .write.mode("append")
        .partitionBy("contract_address", "bucket_date")
        .parquet(path)
    )
    readback = spark.read.parquet(path).drop("bucket_date")
    a = sorted(map(tuple, derive_top100(readback, TOKENS[0]).collect()))
    b = sorted(map(tuple, derive_top100(holders, TOKENS[0]).collect()))
    assert a == b
