"""Custom Python Data Source tests (sources/datasource.py): batch paged
explorer (partitioned pages, pushdown, retry, drift) and the streaming
block-cursor source (offset checkpointing, exactly-once resume)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan, StringStartsWith

from merl_etl_spark.sources.datasource import (
    BlockCursorStreamReader,
    PagedExplorerReader,
    build_http_url,
    fixture_blocks,
    register_sources,
    synthetic_blocks,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_sources(spark)


def test_synthetic_batch_partitions_and_drift(spark):
    df = (
        spark.read.format("merl-paged")
        .option("transport", "synthetic")
        .option("total_rows", "777")
        .option("page_size", "100")
        .option("num_partitions", "3")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 777
    # field drift across page variants must still land in canonical columns
    assert df.filter("holder_address IS NULL OR quantity_raw IS NULL").count() == 0
    # deterministic across reads; real 40-hex address shape
    a = sorted(r.holder_address for r in df.collect())
    b = sorted(r.holder_address for r in df.collect())
    assert a == b and len(set(a)) == 777
    import re

    assert all(re.fullmatch(r"0x[0-9a-f]{40}", x) for x in a)


def test_fixture_batch_equals_direct_parquet_paging(spark):
    df = (
        spark.read.format("merl-paged")
        .option("transport", "fixture")
        .option("path", f"{SF}/nation.parquet")
        .option("columns", "n_nationkey,n_name")
        .option("order_by", "n_nationkey")
        .option("page_size", "10")
        .option("num_partitions", "2")
        .load()
    )
    direct = spark.read.parquet(f"{SF}/nation.parquet").orderBy("n_nationkey").collect()
    got = df.orderBy("n_nationkey").collect()
    assert [(r.n_nationkey, r.n_name) for r in got] == [
        (r.n_nationkey, r.n_name) for r in direct
    ]
    # page assignment follows the declared total order
    assert [r.page for r in got] == [i // 10 + 1 for i in range(len(direct))]


def test_push_filters_narrow_page_range():
    rdr = PagedExplorerReader(
        {"transport": "synthetic", "total_rows": "1000", "page_size": "100"},
        ["page", "holder_address", "quantity_raw", "contract_address"],
    )
    leftover = list(
        rdr.pushFilters(
            [
                GreaterThanOrEqual(("page",), 3),
                LessThan(("page",), 6),
                StringStartsWith(("holder_address",), "0xa"),  # not pushable
            ]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], StringStartsWith)
    parts = rdr.partitions()
    assert [(p.start, p.end) for p in parts] and parts[0].start == 3 and parts[-1].end == 6
    rows = [r for p in parts for r in rdr.read(p)]
    assert {r[0] for r in rows} == {3, 4, 5}


def test_push_filters_equal_to_single_page():
    rdr = PagedExplorerReader(
        {"transport": "synthetic", "total_rows": "1000", "page_size": "100"},
        ["page", "holder_address", "quantity_raw", "contract_address"],
    )
    assert list(rdr.pushFilters([EqualTo(("page",), 7)])) == []
    parts = rdr.partitions()
    assert [(p.start, p.end) for p in parts] == [(7, 8)]


def test_qps_share_follows_actual_partition_count():
    """A pushed-down single-page scan must get the FULL qps budget, not
    qps / configured-num_partitions."""
    rdr = PagedExplorerReader(
        {"transport": "synthetic", "total_rows": "1000", "page_size": "100", "qps": "8"},
        ["page", "holder_address", "quantity_raw", "contract_address"],
    )
    list(rdr.pushFilters([EqualTo(("page",), 7)]))
    parts = rdr.partitions()
    assert len(parts) == 1 and parts[0].qps == 8.0
    wide = PagedExplorerReader(
        {"transport": "synthetic", "total_rows": "1000", "page_size": "100",
         "qps": "8", "num_partitions": "4"},
        ["page", "holder_address", "quantity_raw", "contract_address"],
    )
    assert all(p.qps == 2.0 for p in wide.partitions())


def test_stream_unknown_transport_rejected():
    # validation moved to construction (stream setup), so a typo'd
    # transport fails before the first micro-batch ever runs
    with pytest.raises(ValueError, match="unsupported stream transport"):
        BlockCursorStreamReader({"transport": "http", "head_block": "5"})


def test_push_filters_in_set_consecutive_runs():
    from pyspark.sql.datasource import In

    rdr = PagedExplorerReader(
        {"transport": "synthetic", "total_rows": "1000", "page_size": "100"},
        ["page", "holder_address", "quantity_raw", "contract_address"],
    )
    assert list(rdr.pushFilters([In(("page",), (2, 3, 7, 8, 9))])) == []
    parts = rdr.partitions()
    assert [(p.start, p.end) for p in parts] == [(2, 4), (7, 10)]
    rows = [r for p in parts for r in rdr.read(p)]
    assert {r[0] for r in rows} == {2, 3, 7, 8, 9}


def test_pushdown_in_through_spark_plan(spark):
    df = (
        spark.read.format("merl-paged")
        .option("transport", "synthetic")
        .option("total_rows", "1000")
        .option("page_size", "100")
        .load()
        .filter("page IN (2, 9)")
    )
    assert df.rdd.getNumPartitions() == 2  # two single-page runs
    assert df.count() == 200


def test_pushdown_through_spark_plan(spark):
    df = (
        spark.read.format("merl-paged")
        .option("transport", "synthetic")
        .option("total_rows", "1000")
        .option("page_size", "100")
        .option("num_partitions", "8")
        .load()
        .filter("page = 7")
    )
    # pushdown narrows the scan to one page -> one partition
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 100


def test_retry_recovers_then_exhausts():
    opts = {
        "transport": "synthetic",
        "total_rows": "150",
        "page_size": "100",
        "fail_first": "2",
        "seed": "retry-ok",
        "max_backoff_s": "0.01",  # keep injected-failure backoff fast
    }
    fields = ["page", "holder_address", "quantity_raw", "contract_address"]
    rdr = PagedExplorerReader(opts, fields)
    rows = [r for p in rdr.partitions() for r in rdr.read(p)]
    assert len(rows) == 150  # 2 injected failures/page < 5 retries
    bad = PagedExplorerReader({**opts, "seed": "retry-dead", "retries": "1"}, fields)
    with pytest.raises(ConnectionError):
        for p in bad.partitions():
            list(bad.read(p))


def test_build_http_url_reference_params():
    url = build_http_url(
        {"url": "https://api.example/api", "contract": "0xdead", "apikey": "k"}, 3, 100
    )
    assert url.startswith("https://api.example/api?")
    for frag in ("module=token", "action=tokenholderlist", "contractaddress=0xdead",
                 "page=3", "offset=100", "apikey=k"):
        assert frag in url


def test_synthetic_blocks_pure_and_between_offsets():
    a = synthetic_blocks({"seed": "s"}, 0, 35)
    b = synthetic_blocks({"seed": "s"}, 0, 20) + synthetic_blocks({"seed": "s"}, 20, 35)
    assert a == b  # offset-split replay is bit-identical
    rdr = BlockCursorStreamReader({"transport": "synthetic", "seed": "s", "head_block": "35"})
    assert rdr.initialOffset() == {"block": 0}
    it, off = rdr.read({"block": 0})
    assert off == {"block": 35}  # default blocks_per_batch=100 caps at head
    assert list(it) == a
    assert list(rdr.readBetweenOffsets({"block": 0}, {"block": 35})) == a


def test_fixture_blocks_matches_direct_filter(spark):
    got = fixture_blocks(
        {"path": f"{SF}/events.parquet", "block_col": "event_id", "columns": "user_id,value"},
        10,
        40,
    )
    exp = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter("event_id > 10 AND event_id <= 40")
        .orderBy("event_id")
        .select("event_id", "user_id", "value")
        .collect()
    )
    assert [tuple(r) for r in exp] == got


def _drain(spark, out, ckpt, head, expected, blocks_per_batch=7):
    q = (
        spark.readStream.format("merl-blockcursor")
        .option("transport", "synthetic")
        .option("head_block", str(head))
        .option("blocks_per_batch", str(blocks_per_batch))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    def committed_count():
        # a task-written part can appear before the _spark_metadata commit;
        # reading in that window raises schema-inference errors — treat as 0
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return -1

    try:
        # Progress-aware poll budget (VERDICT r12 #7: a fixed 90s wall
        # flaked once when the full suite ran concurrently with the
        # 32-core stress harness).  The stall clock resets whenever the
        # stream demonstrably advances (committed rows grow or a new
        # micro-batch commits), so contention can slow the stream without
        # failing the test; a genuine hang still fails after 90s of zero
        # progress, and a 360s hard cap bounds the pathological case.
        start = time.monotonic()
        last_progress = start
        last_seen = (-1, -1)  # (committed rows, batchId)
        while True:
            n = committed_count()
            if n >= expected:
                break
            prog = q.lastProgress
            batch_id = prog["batchId"] if prog else -1
            if (n, batch_id) > last_seen:
                last_seen = (n, batch_id)
                last_progress = time.monotonic()
            now = time.monotonic()
            assert now - last_progress < 90, (
                f"stream stalled: no progress for 90s at {last_seen}"
            )
            assert now - start < 360, "stream did not finish within 360s hard cap"
            time.sleep(0.25)
        assert committed_count() >= expected
    finally:
        q.stop()
        q.awaitTermination(60)
    return spark.read.parquet(out)


def test_stream_cursor_checkpoint_resume_exactly_once(spark, tmp_path):
    """The reference's block cursor as a Spark offset: restart after the
    head advances must deliver ONLY blocks past the committed offset —
    no gaps, no duplicates (merlin_etl.py:353-357 upgraded from
    at-least-once to exactly-once)."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    exp1 = len(synthetic_blocks({"seed": "0"}, 0, 20))
    df1 = _drain(spark, out, ckpt, head=20, expected=exp1)
    assert df1.count() == exp1
    exp2 = exp1 + len(synthetic_blocks({"seed": "0"}, 20, 35))
    df2 = _drain(spark, out, ckpt, head=35, expected=exp2)
    assert df2.count() == exp2
    assert df2.distinct().count() == exp2  # exactly-once across restart
    lo, hi = df2.agg(F.min("block_number"), F.max("block_number")).first()
    assert (lo, hi) == (1, 35)


# ---------------------------------------------------------------------------
# explorer error-envelope handling (ADVICE r3: a rate-limit body must retry,
# not read as a terminal short page)
# ---------------------------------------------------------------------------


class _FakeResponse:
    def __init__(self, body: bytes):
        self._body = body

    def read(self) -> bytes:
        return self._body

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def _opener_from_bodies(bodies):
    """Sequence of JSON bodies served in order; records call count."""
    import json as _json

    state = {"calls": 0}

    def opener(url, timeout=None):
        body = bodies[min(state["calls"], len(bodies) - 1)]
        state["calls"] += 1
        return _FakeResponse(_json.dumps(body).encode())

    return opener, state


def test_http_page_error_envelope_retries_then_succeeds():
    """{"status":"0","result":"Max rate limit reached"} raises into
    fetch_with_retry (merlin_etl.py:379-386 checks status before result);
    the retry then drains the real page — no silent truncation."""
    from merl_etl_spark.sources.datasource import ExplorerError, http_page
    from merl_etl_spark.sources.paged import fetch_with_retry

    rows = [{"TokenHolderAddress": "0xa", "TokenHolderQuantity": "5"}]
    opener, state = _opener_from_bodies(
        [
            {"status": "0", "message": "NOTOK", "result": "Max rate limit reached"},
            {"status": "0", "message": "NOTOK", "result": "Max rate limit reached"},
            {"status": "1", "message": "OK", "result": rows},
        ]
    )
    opts = {"url": "http://explorer.invalid/api", "contract": "0xt"}

    with pytest.raises(ExplorerError, match="rate limit"):
        http_page(opts, 1, 100, opener=opener)

    got = fetch_with_retry(
        lambda: http_page(opts, 1, 100, opener=opener), retries=5, sleep=lambda s: None
    )
    assert got == rows
    assert state["calls"] == 3  # 1 direct raise + (1 retry-fail + 1 success)


def test_http_page_empty_result_list_is_terminal_not_error():
    """status '0' + result [] is the explorer's legitimate 'no more rows'
    terminator — must return an empty page, not raise."""
    from merl_etl_spark.sources.datasource import http_page

    opener, _ = _opener_from_bodies(
        [{"status": "0", "message": "No transactions found", "result": []}]
    )
    assert http_page({"url": "http://x.invalid/api"}, 9, 100, opener=opener) == []


def test_parse_explorer_payload_shapes():
    from merl_etl_spark.sources.datasource import ExplorerError, parse_explorer_payload

    assert parse_explorer_payload([{"a": 1}]) == [{"a": 1}]  # bare list
    assert parse_explorer_payload({"result": [{"a": 1}]}) == [{"a": 1}]
    assert parse_explorer_payload({"status": "1", "result": None}) == []
    with pytest.raises(ExplorerError):
        parse_explorer_payload({"status": "0", "result": "Invalid API Key"})
    with pytest.raises(ExplorerError):
        parse_explorer_payload("<html>502</html>")


# ---------------------------------------------------------------------------
# blockcursor option validation (ADVICE r3: named setup errors, not a bare
# KeyError('path') from inside the first micro-batch)
# ---------------------------------------------------------------------------


def test_blockcursor_reader_validates_options():
    with pytest.raises(ValueError, match="transport"):
        BlockCursorStreamReader({"transport": "carrier-pigeon"})
    with pytest.raises(ValueError, match="'path'"):
        BlockCursorStreamReader({"transport": "fixture", "columns": "user_id"})
    with pytest.raises(ValueError, match="'columns'"):
        BlockCursorStreamReader({"transport": "fixture", "path": "/x.parquet"})
    with pytest.raises(ValueError, match="blocks_per_batch"):
        BlockCursorStreamReader({"blocks_per_batch": "0"})


def test_parse_explorer_payload_missing_status_error_body_raises():
    """Proxy/JSON-RPC error bodies carry NO status field — they must
    raise into retry, not read as a terminal empty page (review r5)."""
    from merl_etl_spark.sources.datasource import ExplorerError, parse_explorer_payload

    with pytest.raises(ExplorerError):
        parse_explorer_payload({"error": {"code": -32005, "message": "rate limited"}})
    with pytest.raises(ExplorerError):
        parse_explorer_payload({"message": "backend unavailable"})


def test_blockcursor_schema_path_validates_options():
    """Spark calls schema() before the reader exists — a missing fixture
    option must raise the named ValueError there too, not KeyError."""
    from merl_etl_spark.sources.datasource import BlockCursorStreamSource

    src = BlockCursorStreamSource({"transport": "fixture", "columns": "user_id"})
    with pytest.raises(ValueError, match="'path'"):
        src.schema()
