"""Report rendering + delivery edge (SURVEY.md §2.B sink-telegram,
§2.I formatting fns; scripts/ingest_activity_and_report.sh:106-128,
scripts/notify_telegram.sh).

Rendering is columnar (JVM expressions over the movers/totals DataFrames);
only the final ≤11-row collect crosses to the driver, where a notifier
delivers it.  The one notifier here records messages instead of posting
them (SURVEY.md §7.3: no real network)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from merl_etl_spark.functions import scalar as S


@dataclass
class CollectingNotifier:
    """Test fake: records messages instead of POSTing to Telegram."""

    sent: list[tuple[str, str]] = field(default_factory=list)

    def send(self, message: str, mode: str = "HTML") -> bool:
        self.sent.append((message, mode))
        return True


def render_activity_report(
    totals: DataFrame, movers: DataFrame, token_symbol: str, asof_str: str
) -> str:
    """Build the hourly whale-activity HTML message
    (ingest_activity_and_report.sh:113-126): headline totals + top movers
    with linked shortened addresses and humanized amounts."""
    t = totals.select(
        "active_wallets",
        "tx_rows",
        S.commify(F.col("total_in")).alias("in_fmt"),
        S.commify(F.col("total_out")).alias("out_fmt"),
        S.commify(F.col("net")).alias("net_fmt"),
    ).collect()[0]
    lines = [
        f"<b>{token_symbol} whale activity</b> — last 60 min (as of {asof_str})",
        f"active wallets: {t.active_wallets} | txs: {t.tx_rows}",
        f"in: {t.in_fmt} | out: {t.out_fmt} | net: {t.net_fmt}",
        "",
        "<b>Top movers</b>",
    ]
    mover_rows = movers.select(
        "wallet_link",
        S.humanize(F.col("max_flow")).alias("flow_fmt"),
        "txs",
    ).collect()
    lines += [f"{i + 1}. {r.wallet_link} — {r.flow_fmt} ({r.txs} txs)" for i, r in enumerate(mover_rows)]
    return "\n".join(lines)
