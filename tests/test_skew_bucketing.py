"""Scale-strategy tests: salted joins must be result-identical to plain
joins on skewed data; bucketed tables must join without a shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from merl_etl_spark.operators.skew import salted_join, write_bucketed
from merl_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def skewed(spark):
    """events with a manufactured hot key: ~40% of rows mapped to user 7."""
    e = load_table(spark, SF, "events")
    return e.withColumn(
        "user_id", F.when(F.col("event_id") % 5 < 2, F.lit(7)).otherwise(F.col("user_id"))
    ).cache()


@pytest.fixture(scope="module")
def dim(spark):
    return (
        load_table(spark, SF, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", F.concat(F.lit("seg-"), (F.col("user_id") % 3).cast("string")))
        .cache()
    )


def bucketed_join_plan_has_no_exchange(spark, t1: str, t2: str, key: str) -> bool:
    """Plan probe: join two same-bucketed tables on the bucket key and check
    the physical plan contains no shuffle Exchange."""
    # hint MERGE: Catalyst would otherwise broadcast a small side, which
    # hides the bucket co-location this probe exists to demonstrate
    j = spark.table(t1).hint("merge").join(spark.table(t2), key)
    plan = j._jdf.queryExecution().executedPlan().toString()
    return "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan


def _canon(df):
    return sorted(map(tuple, ((str(v) for v in r) for r in df.collect())))


def test_salted_join_equals_plain_inner(spark, skewed, dim):
    plain = skewed.join(dim, "user_id").select("event_id", "user_id", "segment")
    salted = salted_join(skewed, dim, "user_id", n_salts=8).select(
        "event_id", "user_id", "segment"
    )
    assert _canon(salted) == _canon(plain)


def test_salted_join_equals_plain_left(spark, skewed, dim):
    dim_partial = dim.filter(F.col("user_id") % 2 == 0)  # unmatched rows exist
    plain = skewed.join(dim_partial, "user_id", "left").select(
        "event_id", "user_id", "segment"
    )
    salted = salted_join(skewed, dim_partial, "user_id", n_salts=4, how="left").select(
        "event_id", "user_id", "segment"
    )
    assert _canon(salted) == _canon(plain)


def test_salted_join_spreads_hot_key(spark, skewed, dim):
    """The hot key's rows must occupy multiple salt sub-keys."""
    salt = F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(8))
    n_subkeys = (
        skewed.filter(F.col("user_id") == 7)
        .select(salt.alias("s"))
        .distinct()
        .count()
    )
    assert n_subkeys >= 6  # 8 salts; hot rows spread across nearly all


def test_bucketed_join_no_exchange(spark):
    events = load_table(spark, SF, "events")
    agg = events.groupBy("user_id").agg(F.count("*").alias("n"))
    write_bucketed(events.select("event_id", "user_id", "value"), "b_events", ["user_id"], 8)
    write_bucketed(agg, "b_users", ["user_id"], 8)
    try:
        assert bucketed_join_plan_has_no_exchange(spark, "b_events", "b_users", "user_id")
        # and the join result is correct
        j = spark.table("b_events").join(spark.table("b_users"), "user_id")
        assert j.count() == events.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_events")
        spark.sql("DROP TABLE IF EXISTS b_users")
