"""The three reference pipeline assemblies (SURVEY.md §3) as composed
DataFrame transforms over reference-shaped tables, plus driver-checkable
composed queries mapped onto the fixture tables.

Every job takes explicit DataFrames and a frozen ``asof`` timestamp —
no wall-clock, no hidden I/O (SURVEY.md §7.3 determinism rules).  The
Telegram/HTTP edges of the reference are deliberately outside the engine:
rendering is produced as columns; delivery is the caller's concern.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from merl_etl_spark.functions import scalar as S
from merl_etl_spark.operators.ranking import rank_top_k
from merl_etl_spark.registry import register
from merl_etl_spark.sinks import cursor_merge, insert_ignore, upsert_last_wins
from merl_etl_spark.sources.tables import load_table

TRANSFER_DEDUP_KEYS = ["tx_hash", "contract_address", "wallet_address", "value_raw", "tx_index_key"]


def scale_and_rank_top100(snapshots: DataFrame, k: int = 100) -> DataFrame:
    """Shared §3.2 derivation core: per-row ``quantity_raw /
    10^token_decimal`` scaled balance (sql/top100_compute.sql:16) + the
    deterministic rank window + top-k filter, over whatever (contract,
    bucket) slices are present.  Both the batch job (derive_top100) and
    the streaming maintenance (run_top100_maintenance) call this — one
    canonical implementation keeps stream==batch parity structural.

    Exact overflow-free ranking: ``quantity_raw / 10^token_decimal`` is
    ranked via a STRING split of the raw digit string — whole = digits
    above the decimal point, frac = digits below, each zero-padded to
    width 78 (uint256 max is 78 decimal digits; ``lpad``/``rpad``
    TRUNCATE inputs longer than the pad width, so a 38-wide key would
    silently mis-order >38-digit wholes).  Equal-length digit strings
    compare numerically.  A
    decimal-typed rank key would need DecimalType(38,6) and (ANSI off)
    silently null raws ≥ 10^32 — NULLS LAST would then drop the LARGEST
    holder from the Top-100.  The displayed ``balance`` DECIMAL(38,6)
    still nulls above 10^32 (the documented overflow→NULL policy), but
    the ranking itself is exact for the full uint256-in-string range.
    token_decimal may vary per row (the reference's dual-scaling quirk,
    SURVEY §1.3) — the split normalizes across different scales.
    Assumes non-negative raws (ERC-20 amounts are unsigned)."""
    d = F.col("token_decimal").cast("int")
    raw_str = F.col("quantity_raw")
    L = F.length(raw_str)
    whole_str = F.when(L > d, raw_str.substr(F.lit(1), L - d)).otherwise(F.lit("0"))
    frac_str = F.when(L > d, raw_str.substr(L - d + 1, d)).otherwise(
        F.lpad(raw_str, d, "0")
    )
    keyed = (
        snapshots.withColumn("__whole_key", F.lpad(whole_str, 78, "0"))
        .withColumn("__frac_full", frac_str)
        .withColumn("__frac_key", F.rpad(F.col("__frac_full"), 78, "0"))
    )
    ranked = rank_top_k(
        keyed,
        partition_by=["contract_address", "bucket_start_utc"],
        order_by=[
            F.col("__whole_key").desc(),
            F.col("__frac_key").desc(),
            F.col("holder_address").asc(),
        ],
        k=k,
    )
    # Display balance: reconstruct the FULL decimal string and let the
    # DECIMAL(38,6) cast do the 6-dp reduction — Spark's string→decimal
    # cast rounds HALF_UP (matching the reference's numeric
    # quantity_raw / POW(10, decimal)); substring(frac, 1, 6) would
    # truncate and differ in the last digit when the 7th frac digit ≥ 5.
    return ranked.withColumn(
        "balance",
        F.concat(
            F.when(F.col("__whole_key") == F.lit("0" * 78), F.lit("0")).otherwise(
                F.regexp_replace("__whole_key", "^0+", "")
            ),
            F.lit("."),
            F.col("__frac_full"),
        ).cast(T.DecimalType(38, 6)),
    ).drop("__whole_key", "__frac_full", "__frac_key")


def derive_top100(holders: DataFrame, token: str, k: int = 100) -> DataFrame:
    """§3.2 derivation: holders snapshot → latest bucket → scaled balance →
    rank window → Top-k (sql/top100_compute.sql:4-29).

    Scale shape: token filter pushes into the scan; the 1-row latest-bucket
    aggregate broadcast-joins (no fact shuffle); the rank shuffles once on
    the (contract, bucket) window key.  Uses the true per-row
    ``quantity_raw / 10^token_decimal`` scaling the Top-100 SQL uses
    (sql/top100_compute.sql:16), not the fixed 10^18 generated column —
    reproducing the reference's dual-scaling behavior deliberately
    (SURVEY.md §1.3)."""
    token_l = token.lower()
    filtered = holders.filter(F.col("contract_address") == token_l)
    latest = F.broadcast(filtered.agg(F.max("bucket_start_utc").alias("__latest")))
    snapshot = filtered.join(
        latest, filtered["bucket_start_utc"] == latest["__latest"]
    ).drop("__latest")
    ranked = scale_and_rank_top100(snapshot, k=k)
    return ranked.select(
        "bucket_start_utc",
        "contract_address",
        F.col("rnk").cast("int").alias("rnk"),
        "holder_address",
        "token_decimal",
        F.col("quantity_raw").alias("balance_raw"),
        "balance",
    )


def ingest_transfers(
    raw: DataFrame, existing: DataFrame, cursors: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """§3.1 incremental event ingestion: normalize → keyed dedup →
    anti-join append set → monotonic cursor advance (merlin_etl.py:346-479).

    Returns (rows_to_append, merged_cursors).  The cursor is the max
    ``block_number`` over every SCANNED row per stream, replays included,
    as the reference's running ``max(blockNumber)`` is
    (merlin_etl.py:435,463); ``last_page`` is the number of rows scanned,
    not appended.  So ``merged_cursors`` reads only ``raw`` and
    ``cursors`` — it never touches ``existing``, and it stays correct
    when evaluated after ``rows_to_append`` has been written into the
    table ``existing`` lists."""
    # one projection: each chained withColumn is a separate analysis pass
    normalized = raw.withColumns(
        {
            "wallet_address": S.lower_addr(F.col("wallet_address")),
            "contract_address": S.lower_addr(F.col("contract_address")),
            "from_address": S.lower_addr(F.col("from_address")),
            "to_address": S.lower_addr(F.col("to_address")),
            "block_time_utc": S.from_unix(F.col("block_time_unix")),
            "value_18d": S.scale_18d(F.col("value_raw")),
            "tx_index_key": F.coalesce(F.col("transaction_index"), F.lit(0)),
        }
    )
    new_rows = insert_ignore(
        normalized,
        existing.withColumn(
            "tx_index_key", F.coalesce(F.col("transaction_index"), F.lit(0))
        ),
        TRANSFER_DEDUP_KEYS,
        [F.col("block_number").asc(), F.col("ingested_at").asc()],
    ).drop("tx_index_key")

    new_cursors = normalized.groupBy(
        F.concat(
            F.lit("tokentx:"), F.col("wallet_address"), F.lit(":"), F.col("contract_address")
        ).alias("stream")
    ).agg(
        F.max("block_number").alias("last_scanned_block"),
        F.count("*").alias("last_page"),
    )
    return new_rows, cursor_merge(cursors, new_cursors)


def activity_report(
    transfers: DataFrame,
    top100: DataFrame,
    token: str,
    asof: dt.datetime,
    explorer_base: str = "https://scan.merlinchain.io",
) -> tuple[DataFrame, DataFrame]:
    """§3.3 hourly whale-activity report: 60-minute lookback → Top-100
    semi-join → per-wallet conditional flow → (totals rollup, top-10 movers
    with rendered report columns) (scripts/ingest_activity_and_report.sh:20-126).

    Runs ONE Spark query when called: ``per_wallet`` is evaluated once,
    collected as Arrow and re-planned as a ``LocalRelation``.
    Its size is bounded by the number of distinct wallets in ``top100``,
    so ``totals``, ``movers`` and any rendering over them never scan
    ``transfers`` again — they stay valid after ``transfers`` is gone.

    No silent overflow (ANSI mode is off, so a ``decimal(38,18)`` sum past
    10^20 tokens turns NULL): a NULL per-wallet flow raises
    ``ArithmeticError`` here, and a NULL total over a non-empty hour
    raises when ``totals`` is evaluated.  Only the empty hour totals 0."""
    token_l = token.lower()
    window_lo = F.lit(asof) - F.expr("INTERVAL 60 MINUTES")
    # a semi-join only asks whether a wallet is listed: no distinct needed
    wallets = top100.select(F.col("holder_address").alias("wallet_address"))
    w = (
        transfers.filter(
            (F.col("contract_address") == token_l)
            & (F.col("block_time_utc") >= window_lo)
            # upper bound: the reference's now() is implicitly the data
            # horizon; re-deriving a historical hour over a table that has
            # since grown must not leak post-asof transfers in
            & (F.col("block_time_utc") <= F.lit(asof))
        )
        .join(F.broadcast(wallets), "wallet_address", "left_semi")
    )
    dec = T.DecimalType(38, 18)
    flows = w.groupBy("wallet_address").agg(
        F.sum(
            F.when(F.col("wallet_address") == F.col("to_address"), F.col("value_18d")).otherwise(
                F.lit(0).cast(dec)
            )
        ).cast(dec).alias("in_amt"),
        F.sum(
            F.when(
                F.col("wallet_address") == F.col("from_address"), F.col("value_18d")
            ).otherwise(F.lit(0).cast(dec))
        ).cast(dec).alias("out_amt"),
        F.count("*").alias("txs"),
    ).toArrow()
    for c in ("in_amt", "out_amt"):
        if flows.column(c).null_count:
            raise ArithmeticError(
                f"activity_report: a wallet's {c} is NULL — its decimal(38,18) "
                "sum overflowed 10^20 tokens or a transfer value did not parse"
            )
    # one partition: totals and movers over ≤|top100| rows then need no exchange
    per_wallet = transfers.sparkSession.createDataFrame(flows).coalesce(1)

    n = F.count("*")

    def total(c: str) -> Column:
        s = F.sum(c)
        overflow = F.raise_error(F.lit(f"activity_report: total of {c} overflows decimal(38,18)"))
        return F.when(n == 0, F.lit(0)).when(s.isNull(), overflow).otherwise(s).cast(dec)

    totals = per_wallet.agg(
        n.alias("active_wallets"),
        F.coalesce(F.sum("txs"), F.lit(0)).cast("bigint").alias("tx_rows"),
        total("in_amt").alias("total_in"),
        total("out_amt").alias("total_out"),
        (total("in_amt") - total("out_amt")).cast(dec).alias("net"),
    )
    movers = (
        per_wallet.withColumn("max_flow", F.greatest("in_amt", "out_amt"))
        .orderBy(
            F.col("max_flow").desc_nulls_last(), F.col("txs").desc(), F.col("wallet_address").asc()
        )
        .limit(10)
        .select(
            "wallet_address",
            "in_amt",
            "out_amt",
            "txs",
            "max_flow",
            S.html_link(
                explorer_base, F.col("wallet_address"), S.short_addr(F.col("wallet_address"))
            ).alias("wallet_link"),
            S.commify(F.col("in_amt")).alias("in_fmt"),
            S.commify(F.col("out_amt")).alias("out_fmt"),
        )
    )
    return totals, movers


# ---------------------------------------------------------------------------
# Composed pipelines as driver-checkable queries on the fixture tables
# ---------------------------------------------------------------------------


@register(
    "plan-top100-derive",
    oracle="""
    WITH holders AS (
      SELECT to_timestamp(((epoch_us(ts) // 1000000) // 21600) * 21600) AS bucket_start_utc,
             event_type AS contract_address,
             user_id AS holder_address,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS balance
      FROM events GROUP BY 1, 2, 3
    ),
    latest AS (SELECT max(bucket_start_utc) AS b FROM holders)
    SELECT contract_address, rnk, holder_address,
           CAST(balance AS DOUBLE) AS balance
    FROM (
      SELECT h.contract_address, h.holder_address, h.balance,
             RANK() OVER (PARTITION BY h.contract_address
                          ORDER BY h.balance DESC, h.holder_address ASC) AS rnk
      FROM holders h JOIN latest l ON h.bucket_start_utc = l.b
    )
    WHERE rnk <= 100
    """,
)
def plan_top100_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full §3.2 chain on fixture data: 6h-bucketed balance snapshots →
    latest bucket → rank → Top-100 (events.user_id plays holder,
    event_type plays token)."""
    from merl_etl_spark.operators.windows_time import floor_to_bucket

    events = load_table(spark, sf_dir, "events")
    holders = (
        events.groupBy(
            F.window("ts", "6 hours").alias("w"),
            F.col("event_type").alias("contract_address"),
            F.col("user_id").alias("holder_address"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("balance"))
        .withColumn("bucket_start_utc", F.col("w.start"))
        .drop("w")
    )
    # latest bucket == floor(max ts): a column-pruned scan of ts alone,
    # instead of re-running the full balance aggregation a second time
    latest = F.broadcast(
        events.agg(floor_to_bucket(F.max("ts"), 21600).alias("__b"))
    )
    ranked = rank_top_k(
        holders.join(latest, holders["bucket_start_utc"] == latest["__b"]),
        partition_by=["contract_address"],
        order_by=[F.col("balance").desc(), F.col("holder_address").asc()],
        k=100,
    )
    return ranked.select(
        "contract_address",
        "rnk",
        "holder_address",
        F.col("balance").cast("double").alias("balance"),
    )
