"""The full reference workflow composed end-to-end (SURVEY.md §3, all
three jobs chained): paged snapshot ingestion → last-wins upsert →
partitioned write → Top-100 derivation → snapshot replace → incremental
transfer ingestion with cursors + audit → hourly activity report →
rendered message through the notifier.

This is the 'a user of the reference could switch' test: every stage is
the engine's public API, wired exactly as the reference's cron jobs wire
theirs, on reference-shaped data."""

from __future__ import annotations

from pyspark.sql import functions as F

from merl_etl_spark.plans.jobs import activity_report, derive_top100, ingest_transfers
from merl_etl_spark.plans.reporting import CollectingNotifier, render_activity_report
from merl_etl_spark.sinks import run_with_audit, snapshot_replace, upsert_last_wins
from tests.fixtures import (
    ASOF,
    HOLDERS_SPARK_SCHEMA,
    TOKENS,
    TRANSFER_SPARK_SCHEMA,
    cursors_pdf,
    holders_pdf,
    holders_with_replays,
    transfers_pdf,
)


def test_full_reference_workflow(spark, tmp_path):
    audit_log: list = []
    notifier = CollectingNotifier()

    # --- job 1: holders snapshot (run_holders_and_top100.sh) -------------
    raw_holders = spark.createDataFrame(
        holders_with_replays(holders_pdf()), schema=HOLDERS_SPARK_SCHEMA
    )

    def snapshot_job():
        deduped = upsert_last_wins(
            raw_holders,
            ["bucket_start_utc", "contract_address", "holder_address"],
            [F.col("updated_at").desc(), F.col("quantity_raw").desc()],
        )
        (
            deduped.withColumn("bucket_date", F.to_date("bucket_start_utc"))
            .write.mode("append")
            .partitionBy("contract_address", "bucket_date")
            .parquet(str(tmp_path / "holders"))
        )
        return deduped, {"rows": deduped.count()}

    run_with_audit("holders_6h", ASOF, snapshot_job, audit_log)

    holders = spark.read.parquet(str(tmp_path / "holders")).drop("bucket_date")

    # --- job 1b: Top-100 derivation + snapshot replace -------------------
    top100 = derive_top100(holders, TOKENS[0])
    snapshot_replace(
        top100, str(tmp_path / "top100"), ["contract_address", "bucket_start_utc"]
    )
    top_read = spark.read.parquet(str(tmp_path / "top100"))
    assert 0 < top_read.count() <= 100
    assert top_read.groupBy("holder_address").count().filter("count > 1").count() == 0

    # --- job 2: incremental transfer ingestion (wallet_tokentx) ----------
    raw_transfers = spark.createDataFrame(
        transfers_pdf(holders_pdf()), schema=TRANSFER_SPARK_SCHEMA
    )
    cursors = spark.createDataFrame(cursors_pdf())

    def ingest_job():
        new_rows, merged = ingest_transfers(raw_transfers, raw_transfers.limit(0), cursors)
        new_rows.write.mode("append").parquet(str(tmp_path / "transfers"))
        return (new_rows, merged), {"rows": new_rows.count()}

    new_rows, merged_cursors = run_with_audit("wallet_tx_hourly", ASOF, ingest_job, audit_log)
    transfers = spark.read.parquet(str(tmp_path / "transfers"))
    assert transfers.count() == new_rows.count() > 0

    # --- job 3: hourly activity report + delivery ------------------------
    totals, movers = activity_report(transfers, top_read, TOKENS[0], ASOF)
    msg = render_activity_report(totals, movers, "MERL", str(ASOF))
    assert notifier.send(msg)

    # --- invariants across the composition -------------------------------
    assert [a["status"] for a in audit_log] == ["success", "success"]
    t = totals.collect()[0]
    assert t.net == t.total_in - t.total_out
    top_wallets = {r.holder_address for r in top_read.collect()}
    for m in movers.collect():
        assert m.wallet_address in top_wallets
    assert "MERL whale activity" in notifier.sent[0][0]

    # idempotence of the whole chain: re-running snapshot + derivation
    # produces the identical Top-100 (the reference's cron-rerun safety)
    top_again = derive_top100(holders, TOKENS[0])
    assert sorted(map(tuple, top_again.collect())) == sorted(
        map(tuple, top100.collect())
    )
