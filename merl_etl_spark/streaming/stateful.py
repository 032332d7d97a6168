"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.J: "applyInPandasWithState for custom stateful operators").

``running_flow_stream`` maintains, per wallet stream, the running
inflow/outflow totals, event count, and high-watermark block — the
stateful generalization of the reference's cursor + hourly flow report:
instead of recomputing a 60-minute window each cron tick
(scripts/ingest_activity_and_report.sh), state carries totals across
micro-batches and emits an updated snapshot per batch.

State is one small struct per key (bounded by #wallets, not stream
length); snapshots append downstream.  At scale this is the template for
any accumulator Spark lacks natively — custom sketches, session state
machines, per-entity CDC folding.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, in_amt double, out_amt double, n_events long, last_block long"
)
STATE_SCHEMA = "in_amt double, out_amt double, n_events long, last_block long"


def _update_flow(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    in_amt, out_amt, n_events, last_block = (
        state.get if state.exists else (0.0, 0.0, 0, -1)
    )
    for pdf in pdfs:
        purchases = pdf[pdf["event_type"] == "purchase"]["value"]
        errors = pdf[pdf["event_type"] == "error"]["value"]
        in_amt += float(purchases.sum())
        out_amt += float(errors.sum())
        n_events += int(len(pdf))
        if len(pdf):
            last_block = max(last_block, int(pdf["event_id"].max()))
    state.update((in_amt, out_amt, n_events, last_block))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "in_amt": [in_amt],
            "out_amt": [out_amt],
            "n_events": [n_events],
            "last_block": [last_block],
        }
    )


def running_flow_stream(events: DataFrame) -> DataFrame:
    """Per-wallet running flow totals with explicit keyed state.  Input: a
    streaming events DataFrame; output: one snapshot row per (key, batch)
    in append mode."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_flow,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

