"""Idempotent write patterns (SURVEY.md §2.B) — the reference's signature
trait re-expressed for immutable columnar storage.

Postgres gave the reference ON CONFLICT upserts keyed by unique indexes
(schema.sql:29,55,123).  On parquet the equivalents are:

- last-wins upsert  → window dedup (row_number over key, newest first)
- insert-ignore     → in-batch dedup + left-anti join against the target
- snapshot replace  → dynamic partition overwrite (the semantically clean
  variant of the reference's delete+insert, sql/top100_from_latest_bucket.sql)
- cursor merge      → groupBy-max (GREATEST monotonic merge, merlin_etl.py:164-171)

All are pure shuffles on the conflict key, and partition overwrite
touches only the (contract, bucket) partitions being replaced, so a
100 TB table rewrites only the affected slice.  ``merge_into_parquet``,
the keyed upsert behind the state tables, makes one driver round-trip:
it collects the handful of partition values a batch touches, reads only
those partitions of the target (a plan-time partition filter) and
writes each of them once.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from merl_etl_spark.registry import register
from merl_etl_spark.sources.tables import load_table


def upsert_last_wins(batch: DataFrame, keys: Sequence[str], order_by: Sequence[Column]) -> DataFrame:
    """Keep the newest row per conflict key — the holders-snapshot upsert
    (sink-upsert-holders; merlin_etl.py:304-318, key schema.sql:55).
    ``order_by`` must be a total order (include a unique tie-break)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_ignore(batch: DataFrame, existing: DataFrame, keys: Sequence[str],
                  tie_break: Sequence[Column]) -> DataFrame:
    """Rows to append: in-batch dedup (first by ``tie_break``) then anti-join
    against the target on the conflict key — INSERT … ON CONFLICT DO NOTHING
    (sink-insert-ignore-tx; merlin_etl.py:438-450, key schema.sql:123).
    An anti-join only asks whether a key exists, so ``existing`` needs no
    distinct (which would cost a shuffle of the whole target)."""
    deduped = upsert_last_wins(batch, keys, tie_break)
    return deduped.join(existing.select(*keys), list(keys), "left_anti")


def cursor_merge(*cursor_snapshots: DataFrame) -> DataFrame:
    """Monotonic cursor merge: GREATEST of old/new block & page per stream
    (sink-upsert-cursor; merlin_etl.py:159-175).  Union + max is associative
    and idempotent — replaying a snapshot can never move a cursor backward."""
    cols = ["stream", "last_scanned_block", "last_page"]
    merged = cursor_snapshots[0].select(*cols)
    for s in cursor_snapshots[1:]:
        merged = merged.unionByName(s.select(*cols))
    return merged.groupBy("stream").agg(
        F.max("last_scanned_block").alias("last_scanned_block"),
        F.max("last_page").alias("last_page"),
    )


def snapshot_replace(df: DataFrame, path: str, partition_cols: Sequence[str]) -> None:
    """True snapshot replace via dynamic partition overwrite — only the
    partitions present in ``df`` are rewritten (sink-delete-insert-top100;
    sql/top100_from_latest_bucket.sql:119-158).  This is the *correct*
    variant: the upsert form leaves stale rows for holders that dropped out
    of the Top-100 on re-run (SURVEY.md §7.3)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
    partition_cols: Sequence[str],
) -> list[tuple]:
    """MERGE (upsert) into a plain-parquet table: union target + updates,
    keep the winning row per conflict key, rewrite.  This is the
    table-format-free equivalent of Delta/Iceberg MERGE the reference's
    ON CONFLICT DO UPDATE maps to (merlin_etl.py:304-318).

    It is the engine's one keyed upsert.  It collects the distinct
    partition-value tuples of ``updates`` on the driver and returns them
    (``[]`` when ``updates`` is empty — then nothing is read or
    written).  The target read is pruned to those partitions: an OR of
    null-safe equalities on the partition columns (a NULL partition value
    is matched like any other) that the planner turns into
    ``PartitionFilters``, so no file of an untouched partition is scanned
    (the file index still lists them).  The merged rows of
    each touched partition are written once, straight to ``target_path``
    by a dynamic partition overwrite (``snapshot_replace``).
    CONTRACT: every partition column must be functionally determined by
    the merge keys and immutable across versions of a key — an update
    that moves a key to a different partition would leave the stale row
    in the old partition (the classic MERGE-on-partitioned-path hazard);
    use a lakehouse format if keys migrate between partitions.

    Crash safety: Spark's dynamic-overwrite commit writes every task's
    output under ``<target>/.spark-staging-<jobId>/`` and swaps the
    partition directories in only at job commit, after every read task
    has finished; a crash before the commit leaves the target
    as it was.  A crash between a partition's delete and its rename
    leaves that partition missing until it is restored from
    ``.spark-staging-<jobId>/``, which then holds the full merged
    partition (readers skip the hidden directory).  Single-writer
    discipline per target path is the caller's job (the reference used
    flock, scripts/ingest_tokentx_top100.sh:13-18)."""
    touched = [tuple(r) for r in updates.select(*partition_cols).distinct().collect()]
    if not touched:
        return touched

    # scheme-aware existence check: probe for committed parquet data via a
    # read attempt (os.path.exists would be wrong for s3a://, hdfs://,
    # file: URIs, and for directories wrecked by a crashed first write —
    # both are treated as "no committed table", which self-heals).  ONLY
    # missing-path / no-committed-data errors mean "no table"; anything
    # else (transient FS failure, permissions) must re-raise — treating it
    # as empty would downgrade the merge to a destructive overwrite.
    from pyspark.errors import AnalysisException

    try:
        target = spark.read.parquet(target_path)
        _ = target.schema
        target_exists = True
    except AnalysisException as exc:
        get_cond = getattr(exc, "getCondition", None) or exc.getErrorClass
        cond = get_cond() or ""
        if not ("PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond):
            raise
        target_exists = False

    if target_exists:
        # null-safe: a NULL partition value names a partition too, and
        # plain `=` would drop its untouched rows from the overwrite
        matches = (
            reduce(operator.and_, (F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_cols, values)))
            for values in touched
        )
        existing = target.filter(reduce(operator.or_, matches))
    else:
        existing = updates.limit(0)
    merged = upsert_last_wins(
        existing.unionByName(updates, allowMissingColumns=False), keys, order_by
    )
    snapshot_replace(merged, target_path, partition_cols)
    return touched


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: Sequence[str] | None = None,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet dataset into files sized
    ~``target_file_bytes`` (the operational chore every streaming/upsert
    sink accumulates — per-micro-batch appends at 100 TB otherwise decay
    into millions of KB-files whose open/footer overhead dominates scans).

    With ``partition_cols`` the Hive layout is preserved and each
    partition splits across ~size-proportional salted tasks, so a hot
    partition still produces multiple target-sized files instead of one
    straggler-written blob.  Compacting a partitioned dataset WITHOUT
    naming its partition columns is refused — a silent rewrite would
    flatten the layout and destroy partition pruning for every downstream
    reader.  The staged result is swapped in by a metadata-only
    delete+rename (no second full rewrite); a crash before the swap
    leaves the original intact, after the delete leaves staging as the
    recovery source.  Returns (files_before, files_after)."""
    import uuid

    df = spark.read.parquet(path)
    files_before = len(df.inputFiles())
    if not partition_cols and any("=" in f.rsplit("/", 2)[-2] for f in df.inputFiles()):
        raise ValueError(
            "dataset appears partitioned (key=value directories); pass "
            "partition_cols or the compaction would flatten the layout"
        )
    fs, jpath = _hadoop_fs(spark, path)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n_files = max(1, int(total_bytes / target_file_bytes) + 1)

    staging = f"{path.rstrip('/')}.compact-{uuid.uuid4().hex[:12]}"
    if partition_cols:
        n_partitions = df.select(*partition_cols).distinct().count()
        salt_mod = max(1, round(n_files / max(1, n_partitions)))
        salted = df.withColumn(
            "__csalt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt_mod))
        )
        (
            salted.repartition(n_files, *partition_cols, F.col("__csalt"))
            .drop("__csalt")
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(staging)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    # metadata-only swap: the staged files are already final-sized and
    # final-partitioned, so a second full Spark rewrite would just double
    # the bytes written
    fs.delete(jpath, True)
    _, jstaging = _hadoop_fs(spark, staging)
    fs.rename(jstaging, jpath)
    return files_before, len(spark.read.parquet(path).inputFiles())


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) through the Hadoop layer — scheme-aware."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jpath


def run_with_audit(job_name: str, scheduled_for, body, audit_log: list):
    """Job audit wrapper (sink-audit-jobrun; merlin_etl.py:133-152): run
    ``body()`` (returning (result, stats)), append a job_runs-shaped audit
    row to ``audit_log`` either way, re-raise on error — the reference's
    start-row / finish-update / error-audit-and-reraise discipline
    (merlin_etl.py:472-475)."""
    import datetime as dt
    import json as _json

    started = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    row = {
        "job_name": job_name,
        "scheduled_for": scheduled_for,
        "started_at": started,
        "finished_at": None,
        "status": None,
        "stats": None,
        "error": None,
    }
    try:
        result, stats = body()
    except Exception as exc:
        row.update(
            finished_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            status="error",
            error=str(exc),
        )
        audit_log.append(row)
        raise
    row.update(
        finished_at=dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        status="success",
        stats=_json.dumps(stats),
    )
    audit_log.append(row)
    return result


# ---------------------------------------------------------------------------
# Driver-checkable batch forms of the dedup semantics
# ---------------------------------------------------------------------------


@register(
    "sink-upsert-holders",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def sink_upsert_holders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-wins upsert as a query: newest row per (user, type) conflict key
    — replayed pages collapse to one winner (merlin_etl.py:310-314)."""
    events = load_table(spark, sf_dir, "events")
    return upsert_last_wins(
        events, ["user_id", "event_type"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@register(
    "sink-insert-ignore-tx",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT user_id, event_type FROM events WHERE event_id % 3 = 0
    ),
    batch AS (SELECT * FROM events WHERE event_id % 3 <> 0),
    dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY event_id ASC) AS rn
        FROM batch
      ) WHERE rn = 1
    )
    SELECT d.user_id, d.event_type, d.event_id
    FROM dedup d
    WHERE NOT EXISTS (SELECT 1 FROM existing e
                      WHERE e.user_id = d.user_id AND e.event_type = d.event_type)
    """,
)
def sink_insert_ignore_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-ignore as a query: a replayed batch deduped in-batch, then
    anti-joined against already-ingested keys (merlin_etl.py:438-450)."""
    events = load_table(spark, sf_dir, "events")
    existing = events.filter(F.col("event_id") % 3 == 0)
    batch = events.filter(F.col("event_id") % 3 != 0)
    return insert_ignore(
        batch, existing, ["user_id", "event_type"], [F.col("event_id").asc()]
    ).select("user_id", "event_type", "event_id")


@register(
    "sink-upsert-cursor",
    oracle="""
    WITH snap1 AS (
      SELECT user_id AS stream, max(event_id) AS last_scanned_block,
             count(*) AS last_page
      FROM events WHERE event_id % 2 = 0 GROUP BY user_id
    ),
    snap2 AS (
      SELECT user_id AS stream, max(event_id) AS last_scanned_block,
             count(*) AS last_page
      FROM events WHERE event_id % 2 = 1 GROUP BY user_id
    ),
    unioned AS (
      SELECT * FROM snap1 UNION ALL SELECT * FROM snap2
    )
    SELECT stream, max(last_scanned_block) AS last_scanned_block,
           max(last_page) AS last_page
    FROM unioned GROUP BY stream
    """,
)
def sink_upsert_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREATEST-merge of two overlapping cursor snapshots — the crash-replay
    case where an older snapshot arrives after a newer one
    (merlin_etl.py:164-171)."""
    events = load_table(spark, sf_dir, "events")

    def snap(pred) -> DataFrame:
        return (
            events.filter(pred)
            .groupBy(F.col("user_id").alias("stream"))
            .agg(
                F.max("event_id").alias("last_scanned_block"),
                F.count("*").alias("last_page"),
            )
        )

    return cursor_merge(snap(F.col("event_id") % 2 == 0), snap(F.col("event_id") % 2 == 1))


@register(
    "sink-view",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def sink_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compatibility view + temp-table staging (sink-view, sink-temp-table;
    schema.sql:34-35, sql/top100_from_latest_bucket.sql:4-31): register the
    table as a view and query it through the SQL API."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("v_events_compat")
    return spark.sql(
        "SELECT event_type, count(*) AS n FROM v_events_compat GROUP BY event_type"
    )


def observe_stats(df, *metrics, name: str = "audit"):
    """Attach zero-cost audit metrics to a DataFrame via Spark's
    ``observe`` API: the named aggregates are computed DURING whatever
    action consumes the frame — no second scan, no cached recount.  This
    is the scalable form of the reference's job-stats accounting
    (merlin_etl.py:133-152 recounts via queries); pair with
    :func:`run_with_audit` by returning ``obs.get`` as the stats dict
    once the action has run.

    Returns (observed_df, observation).  ``observation.get`` blocks
    until an action has materialized the frame.  In streaming, use
    ``df.observe("name", ...)`` and read ``observedMetrics`` off the
    query progress instead (see tests/test_observe_audit.py)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
