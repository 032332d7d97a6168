"""merge_into_parquet must behave like SQL MERGE: new keys insert,
existing keys take the newest version, untouched partitions survive, and
replaying the same updates is a no-op."""

from __future__ import annotations

from pyspark.sql import functions as F

from merl_etl_spark.sinks import merge_into_parquet


def _cursors(spark, rows):
    return spark.createDataFrame(
        rows, "stream string, last_scanned_block long, updated long"
    )


def _order():
    return [F.col("updated").desc()]


def test_merge_partitioned_touches_only_update_partitions(spark, tmp_path):
    path = str(tmp_path / "holders")
    df = spark.createDataFrame(
        [("t1", "h1", 100, 1), ("t1", "h2", 200, 1), ("t2", "h1", 300, 1)],
        "token string, holder string, qty long, updated long",
    )
    merge_into_parquet(
        spark, path, df, ["token", "holder"], [F.col("updated").desc()], ["token"]
    )
    # update only t1; t2's partition must be untouched
    upd = spark.createDataFrame(
        [("t1", "h1", 150, 2), ("t1", "h3", 50, 2)],
        "token string, holder string, qty long, updated long",
    )
    merge_into_parquet(
        spark, path, upd, ["token", "holder"], [F.col("updated").desc()], ["token"]
    )
    got = {
        (r.token, r.holder): r.qty for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("t1", "h1"): 150,
        ("t1", "h2"): 200,
        ("t1", "h3"): 50,
        ("t2", "h1"): 300,
    }
    # replay is a no-op
    merge_into_parquet(
        spark, path, upd, ["token", "holder"], [F.col("updated").desc()], ["token"]
    )
    again = {(r.token, r.holder): r.qty for r in spark.read.parquet(path).collect()}
    assert again == got


def test_merge_wrecked_dir_self_heals(spark, tmp_path):
    import os

    # a directory with no committed parquet (crashed first write) must not
    # wedge the merge — it reads as "no table" and the next merge succeeds
    wrecked = str(tmp_path / "w")
    os.makedirs(os.path.join(wrecked, "_temporary"))
    merge_into_parquet(
        spark, wrecked, _cursors(spark, [("x", 9, 1)]), ["stream"], _order(), ["stream"]
    )
    assert {r.stream for r in spark.read.parquet(wrecked).collect()} == {"x"}


def test_merge_partitioned_keeps_rows_of_a_null_partition(spark, tmp_path):
    """A NULL partition value is a partition like any other: the rows of
    the NULL partition that the update does not name must survive the
    dynamic overwrite of that partition."""
    path = str(tmp_path / "holders")
    schema = "token string, holder string, qty long, updated long"
    merge_into_parquet(
        spark,
        path,
        spark.createDataFrame(
            [(None, "h1", 100, 1), (None, "h2", 200, 1), ("t", "h9", 900, 1)], schema
        ),
        ["token", "holder"],
        [F.col("updated").desc()],
        ["token"],
    )
    merge_into_parquet(
        spark,
        path,
        spark.createDataFrame([(None, "h1", 150, 2)], schema),
        ["token", "holder"],
        [F.col("updated").desc()],
        ["token"],
    )
    got = {(r.token, r.holder): r.qty for r in spark.read.parquet(path).collect()}
    assert got == {(None, "h1"): 150, (None, "h2"): 200, ("t", "h9"): 900}


def _group_input_records(spark, group: str) -> int:
    """Rows read by every stage of the jobs run under ``group`` (stages
    skipped because their shuffle output was reused count nothing)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    rows = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks:
                rows += store.lastStageAttempt(sid).inputRecords()
    return rows


def test_merge_partitioned_reads_only_the_touched_partitions(spark, tmp_path):
    """The target read is pruned to the partitions the update names: a
    merge into the small partition must not scan the big one, and each
    touched partition is written straight to the target — no sibling
    ``.staging-*`` copy and no ``.spark-staging-*`` directory is left."""
    import os
    import uuid

    path = str(tmp_path / "holders")
    schema = "token string, holder string, qty long, updated long"
    big, small, n_upd = 3000, 100, 20
    rows = [("big", f"h{i}", i, 1) for i in range(big)] + [("small", f"h{i}", i, 1) for i in range(small)]
    spark.createDataFrame(rows, schema).write.partitionBy("token").parquet(path)
    # half the update replaces existing keys, half inserts new ones
    upd = spark.createDataFrame(
        [("small", f"h{i}", -i, 2) for i in range(small - n_upd // 2, small + n_upd // 2)], schema
    )

    group = f"merge-read-{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobGroup(group, "pruned merge read")
    try:
        touched = merge_into_parquet(
            spark, path, upd, ["token", "holder"], [F.col("updated").desc()], ["token"]
        )
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    read = _group_input_records(spark, group)

    assert read <= small + 2 * n_upd, f"merge read {read} rows for a {small}-row partition"
    assert read < big + small
    assert touched == [("small",)]
    got = spark.read.parquet(path)
    assert got.filter(F.col("token") == "big").count() == big
    assert got.filter(F.col("token") == "small").count() == small + n_upd // 2
    assert sorted(os.listdir(tmp_path)) == ["holders"]
    assert not [d for d in os.listdir(path) if d.startswith((".staging-", ".spark-staging-"))]


def test_merge_partitioned_empty_update_touches_nothing(spark, tmp_path):
    """An update with no rows names no partition: nothing is read or
    written, and the merge says so by returning no partition values."""
    path = str(tmp_path / "holders")
    schema = "token string, holder string, qty long, updated long"
    assert merge_into_parquet(
        spark, path, spark.createDataFrame([], schema), ["token", "holder"], [F.col("updated").desc()], ["token"]
    ) == []
    assert not (tmp_path / "holders").exists()
