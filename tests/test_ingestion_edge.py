"""Ingestion-edge tests (SURVEY.md §2.A/§2.B driver-edge pieces): the
paged-source loop mechanics, field-drift tolerance, rate limiting, retry
backoff, report rendering, notifier fake, and the job-audit wrapper."""

from __future__ import annotations

import datetime as dt

import pytest

from merl_etl_spark.plans.jobs import activity_report, derive_top100
from merl_etl_spark.plans.reporting import CollectingNotifier, render_activity_report
from merl_etl_spark.sinks import run_with_audit
from merl_etl_spark.sources.paged import (
    RateLimiter,
    extract_fields,
    fetch_with_retry,
    paged_fetch,
)
from tests.fixtures import ASOF, HOLDERS_SPARK_SCHEMA, TOKENS, TRANSFER_SPARK_SCHEMA, holders_pdf, transfers_pdf


def _page_fn_from(items, fail_pages=()):
    calls = {"n": 0, "failed": set()}

    def page_fn(page: int, page_size: int) -> list[dict]:
        calls["n"] += 1
        if page in fail_pages and page not in calls["failed"]:
            calls["failed"].add(page)
            raise ConnectionError(f"transient failure on page {page}")
        lo = (page - 1) * page_size
        return items[lo : lo + page_size]

    return page_fn, calls


def test_paged_fetch_short_page_stop_and_drift():
    items = [{"holderAddress": f"0x{i:x}", "quantity": str(i)} for i in range(250)]
    page_fn, calls = _page_fn_from(items)
    pages = list(paged_fetch(page_fn, page_size=100, sleep=lambda s: None))
    # 3 pages: 100, 100, 50 — stops on the short page, no 4th probe
    assert [len(rows) for _, rows in pages] == [100, 100, 50]
    assert calls["n"] == 3
    # field drift resolved to canonical names
    assert pages[0][1][0]["holder_address"] == "0x0"
    assert pages[0][1][0]["quantity_raw"] == "0"


def test_extract_fields_prefers_first_candidate():
    both = {"TokenHolderAddress": "0xA", "address": "0xB", "value": "7"}
    out = extract_fields(both)
    assert out["holder_address"] == "0xA"  # probe order (merlin_etl.py:276-285)
    assert out["quantity_raw"] == "7"
    assert extract_fields({})["holder_address"] is None


def test_retry_backoff_sequence():
    sleeps: list[float] = []
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] <= 3:
            raise TimeoutError("flaky")
        return [{"ok": 1}]

    out = fetch_with_retry(flaky, retries=5, backoff=0.7, sleep=sleeps.append)
    assert out == [{"ok": 1}]
    assert sleeps == [0.7, 1.4, 2.8]  # exponential, factor 0.7 (merlin_etl.py:65-71)

    with pytest.raises(TimeoutError):
        fetch_with_retry(lambda: (_ for _ in ()).throw(TimeoutError()), retries=2, sleep=lambda s: None)


def test_rate_limiter_spacing():
    sleeps: list[float] = []
    t = {"now": 100.0}

    def clock():
        return t["now"]

    def sleep(s):
        sleeps.append(s)
        t["now"] += s

    rl = RateLimiter(qps=2.0, sleep=sleep, clock=clock)
    rl.acquire()  # first: free
    rl.acquire()  # must wait 0.5
    rl.acquire()
    assert sleeps == pytest.approx([0.5, 0.5])


def test_render_report_and_notifier(spark):
    holders = spark.createDataFrame(holders_pdf(), schema=HOLDERS_SPARK_SCHEMA)
    transfers = spark.createDataFrame(transfers_pdf(holders_pdf()), schema=TRANSFER_SPARK_SCHEMA)
    top = derive_top100(holders, TOKENS[0])
    totals, movers = activity_report(transfers, top, TOKENS[0], ASOF)
    msg = render_activity_report(totals, movers, "MERL", str(ASOF))
    assert "MERL whale activity" in msg and "Top movers" in msg
    assert '<a href="' in msg  # linked shortened addresses
    notifier = CollectingNotifier()
    assert notifier.send(msg) is True
    assert notifier.sent == [(msg, "HTML")]


def test_run_with_audit_success_and_error():
    log: list = []
    out = run_with_audit("holders_6h", ASOF, lambda: ("result", {"rows": 5}), log)
    assert out == "result"
    assert log[-1]["status"] == "success" and '"rows": 5' in log[-1]["stats"]

    with pytest.raises(ValueError):
        run_with_audit(
            "holders_6h", ASOF, lambda: (_ for _ in ()).throw(ValueError("boom")), log
        )
    assert log[-1]["status"] == "error" and "boom" in log[-1]["error"]
    assert log[-1]["finished_at"] >= log[-1]["started_at"]
