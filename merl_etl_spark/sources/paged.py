"""Paged-source ingestion loop (SURVEY.md §2.A) — the reference's REST
page loop as plain Python.

The reference pulls pages from an explorer API with retry/backoff
(merlin_etl.py:61-75), a token-interval rate limiter (:77-84), tolerant
field extraction across explorer variants (:276-289), a resumable
block-range cursor (:353-357), and stops on a short page (:327-329,
466-468).  Here that loop is a plain iterator over a page function, so
tests exercise the exact loop mechanics — pagination, rate limiting,
retries, field drift, short-page termination, cursor resume — with no
network.

The one Spark path that drains it is the ``merl-paged`` Data Source
(sources/datasource.py): each executor task runs ``paged_fetch`` over its
page range, and everything downstream (dedup, upsert, derivation) is the
distributed plan.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

# candidate field names across "explorer variants" (src-field-drift,
# merlin_etl.py:276-285 probes TokenHolderAddress/holderAddress/address…)
FIELD_CANDIDATES = {
    "holder_address": ("TokenHolderAddress", "holderAddress", "address"),
    "quantity_raw": ("TokenHolderQuantity", "quantity", "value"),
}


@dataclass
class RateLimiter:
    """Token-interval rate limiter (src-ratelimit; merlin_etl.py:77-84):
    sleeps so successive acquisitions are ≥ 1/qps apart."""

    qps: float = 3.0
    _last: float = field(default=0.0, repr=False)
    sleep: Callable[[float], None] = time.sleep
    clock: Callable[[], float] = time.monotonic

    def acquire(self) -> None:
        now = self.clock()
        wait = (self._last + 1.0 / self.qps) - now
        if wait > 0:
            self.sleep(wait)
            # re-read the clock: recording the SCHEDULED wake time would
            # let the next acquire burst early after an oversleep
            # (merlin_etl.py re-reads time after sleeping too)
            now = self.clock()
        self._last = now


def fetch_with_retry(
    fetch: Callable[[], list[dict]],
    retries: int = 5,
    backoff: float = 0.7,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Exponential-backoff retry (src-http-session; merlin_etl.py:65-71:
    5 attempts, factor 0.7)."""
    for attempt in range(retries + 1):
        try:
            return fetch()
        except Exception:
            if attempt == retries:
                raise
            sleep(backoff * (2**attempt))
    raise AssertionError("unreachable")


def extract_fields(item: dict) -> dict:
    """Tolerant multi-candidate field extraction (src-field-drift)."""
    out = dict(item)
    for target, candidates in FIELD_CANDIDATES.items():
        for c in candidates:
            if c in item and item[c] is not None:
                out[target] = item[c]
                break
        else:
            out[target] = None
    return out


def paged_fetch(
    page_fn: Callable[[int, int], list[dict]],
    page_size: int = 100,
    max_pages: int = 10_000,
    start_page: int = 1,
    rate_limiter: RateLimiter | None = None,
    retries: int = 5,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[tuple[int, list[dict]]]:
    """The reference's page loop (src-holders-paged / src-tokentx-paged;
    merlin_etl.py:254-331,346-479): rate-limit → fetch w/ retry →
    normalize fields → yield → stop on short page."""
    for page in range(start_page, start_page + max_pages):
        if rate_limiter is not None:
            rate_limiter.acquire()
        items = fetch_with_retry(lambda: page_fn(page, page_size), retries=retries, sleep=sleep)
        rows = [extract_fields(i) for i in items if i]
        yield page, rows
        if len(items) < page_size:
            break

