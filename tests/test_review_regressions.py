"""Regression tests for review findings: short-document shingling must
not crash (Spark's sequence(1,0) descends), and the as-of join must keep
matched right rows atomic when right columns contain legitimate NULLs."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from merl_etl_spark.operators.asof import asof_join_backward


def test_shingles_short_documents_no_crash(spark):
    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three words here"), (4, "")],
        "doc_id long, text string",
    )
    from merl_etl_spark.operators.dedup import WORDS_SHINGLES

    out = (
        docs.withColumn("words", F.split("text", " "))
        .select("doc_id", F.expr(WORDS_SHINGLES).alias("sh"))
        .collect()
    )
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id[1] == [] and by_id[2] == [] and by_id[4] == []
    assert by_id[3] == ["three words here"]


def test_scale_18d_exact_beyond_double(spark):
    """scale_18d must be digit-exact past 2^53 (the old implementation
    routed through double POWER and zeroed low-order digits)."""
    from decimal import Decimal

    from merl_etl_spark.functions.scalar import scale_18d

    vals = [
        "1000000000000000001",
        "12345678901234567891",
        "999999999999999999999999999",
        "5",
    ]
    out = spark.createDataFrame([(v,) for v in vals], "raw string").select(
        "raw", scale_18d(F.col("raw")).alias("s")
    ).collect()
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 60
        for r in out:
            assert r.s == Decimal(r.raw) / Decimal(10**18), (r.raw, r.s)


def test_humanize_uint256_scale_and_floor_pre_1970(spark):
    from merl_etl_spark.functions.scalar import floor_6h, humanize

    df = spark.createDataFrame([(2e28,)], "v double")
    h = df.select(humanize(F.col("v")).alias("h")).collect()[0].h
    assert h is not None and h.endswith("T")  # (18,2) cast used to NULL out

    # pre-1970: truncation-toward-zero bucketed events FORWARD in time
    ts = dt.datetime(1969, 12, 31, 21, 0)
    b = (
        spark.createDataFrame([(ts,)], "ts timestamp")
        .select(floor_6h(F.col("ts")).alias("b"))
        .collect()[0]
        .b
    )
    assert b == dt.datetime(1969, 12, 31, 18, 0), b


def test_json_stats_null_and_string_values(spark):
    from merl_etl_spark.functions.scalar import json_stats

    df = spark.createDataFrame([(1, None, 'say "hi"')], "a long, b string, c string")
    out = df.select(
        json_stats(
            ("a", F.col("a")), ("b", F.col("b")), ("c", F.col("c")),
            string_keys={"b", "c"},
        ).alias("j")
    ).collect()[0].j
    import json

    parsed = json.loads(out)
    assert parsed == {"a": 1, "b": None, "c": 'say "hi"'}


def test_asof_null_right_columns_stay_atomic(spark):
    """Right rows (09:00, id=5, extra='x') and (09:10, id=7, extra=NULL):
    a left row at 09:20 must get (7, NULL), never the torn (7, 'x')."""
    base = dt.datetime(2024, 1, 1, 9, 0)
    right = spark.createDataFrame(
        [
            (5, base, "x"),
            (7, base + dt.timedelta(minutes=10), None),
        ],
        "r_id long, r_ts timestamp, extra string",
    )
    left = spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=20))], "l_id long, l_ts timestamp"
    )
    out = asof_join_backward(left, right, "l_ts", "r_ts", ["r_id", "extra"]).collect()
    assert len(out) == 1
    assert out[0].r_id == 7 and out[0].extra is None

    # and across buckets: left in a later bucket carries the (7, NULL) row
    left2 = spark.createDataFrame(
        [(2, base + dt.timedelta(hours=5))], "l_id long, l_ts timestamp"
    )
    out2 = asof_join_backward(
        left2, right, "l_ts", "r_ts", ["r_id", "extra"], bucket_seconds=60
    ).collect()
    assert out2[0].r_id == 7 and out2[0].extra is None


def test_asof_nearest_rejects_duplicate_left_key(spark):
    """check_unique_key=True must fail loudly on a duplicate-key left frame
    instead of silently fanning rows out through the two re-joins."""
    import pytest

    from merl_etl_spark.operators.asof import asof_join_nearest

    base = dt.datetime(2024, 1, 1, 9, 0)
    left = spark.createDataFrame(
        [(1, base), (1, base + dt.timedelta(minutes=5))], "l_id long, l_ts timestamp"
    )
    right = spark.createDataFrame([(9, base)], "r_id long, r_ts timestamp")
    with pytest.raises(ValueError, match="unique left_key"):
        asof_join_nearest(
            left, right, "l_ts", "r_ts", ["r_id"],
            left_key="l_id", check_unique_key=True,
        )


def test_blockcursor_named_error_on_non_numeric_option():
    """A non-numeric blocks_per_batch must raise the NAMED option error,
    not a bare int() ValueError."""
    import pytest

    from merl_etl_spark.sources.datasource import _validate_blockcursor_options

    with pytest.raises(ValueError, match="blocks_per_batch must be an integer"):
        _validate_blockcursor_options({"blocks_per_batch": "abc"})
    with pytest.raises(ValueError, match="start_block must be an integer"):
        _validate_blockcursor_options({"start_block": "1e3"})


def test_explorer_status1_with_malformed_result_raises():
    """status '1' with a non-null non-list result is a malformed success
    body: it must raise into retry, never read as an empty page (which
    would terminate pagination early and truncate ingestion)."""
    import pytest

    from merl_etl_spark.sources.datasource import ExplorerError, parse_explorer_payload

    assert parse_explorer_payload({"status": "1", "result": None}) == []
    assert parse_explorer_payload({"status": "1", "result": [{"a": 1}]}) == [{"a": 1}]
    with pytest.raises(ExplorerError):
        parse_explorer_payload({"status": "1", "result": {"proxy": "dict"}})
    with pytest.raises(ExplorerError):
        parse_explorer_payload({"status": "1", "result": "backend unavailable"})


# ---------------------------------------------------------------------------
# round-6 continuation review findings
# ---------------------------------------------------------------------------

def test_fuzzy_pairs_threshold_above_two_is_sound(spark):
    """W must scale with threshold: edit distance 3 with a length gap of 3
    (lengths 5 vs 8) must still be found when threshold=3 — the hardcoded
    W=2 silently dropped this pair (bands disjoint)."""
    from merl_etl_spark.operators.linkage import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "abcde", "B"), (2, "abcdexyz", "B")], "k long, nm string, blk string"
    )
    got = blocked_fuzzy_pairs(df, "k", "nm", "blk", threshold=3).collect()
    assert len(got) == 1 and got[0]["edit_dist"] == 3


def test_fuzzy_pairs_string_keys_produce_pairs(spark):
    """Salting must hash the key, not numerically cast it: with string
    keys, pmod(key, 16) was NULL and every pair silently vanished."""
    from merl_etl_spark.operators.linkage import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [("SYM_A", "hello", "B"), ("SYM_B", "hallo", "B")],
        "k string, nm string, blk string",
    )
    got = blocked_fuzzy_pairs(df, "k", "nm", "blk").collect()
    assert len(got) == 1 and got[0]["key_a"] == "SYM_A"


def test_trend_quantization_floors_pre_origin_deltas(spark):
    """xh grid must be floor-based (half-up toward +inf) for BOTH signs:
    a timestamp 5399 µs BEFORE the origin lies nearer the -0.000001 grid
    point — truncation toward zero would pin it to 0.000000."""
    import datetime as dt

    from merl_etl_spark.operators.timeseries import TREND_ORIGIN
    import merl_etl_spark.operators.timeseries as ts
    from pyspark.sql import functions as F

    origin = dt.datetime.fromisoformat(TREND_ORIGIN)
    rows = [
        (1, origin - dt.timedelta(microseconds=5399)),   # → -1 µunit
        (2, origin - dt.timedelta(microseconds=1800)),   # tie → 0 (half-up)
        (3, origin + dt.timedelta(microseconds=1800)),   # tie → +1 (half-up)
        (4, origin + dt.timedelta(microseconds=5399)),   # → +1 µunit
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    xh = F.expr(
        f"CAST(CAST((unix_micros(CAST(ts AS TIMESTAMP)) "
        f"- unix_micros(CAST('{TREND_ORIGIN}' AS TIMESTAMP)) + 1800 "
        f"- pmod(unix_micros(CAST(ts AS TIMESTAMP)) "
        f"- unix_micros(CAST('{TREND_ORIGIN}' AS TIMESTAMP)) + 1800, 3600)) DIV 3600 "
        f"AS DECIMAL(18,6)) * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))"
    )
    got = {r["event_id"]: str(r["x"]) for r in df.select("event_id", xh.alias("x")).collect()}
    assert got == {
        1: "-0.000001",
        2: "0.000000",
        3: "0.000001",
        4: "0.000001",
    }, got


def test_cosupply_pack_guard_at_the_sign_bit(spark, tmp_path):
    """The census packs (id_a, id_b) as id_a * 2^32 + id_b in a long: an
    id_a of 2^31 would wrap past 2^63 into a negative, aliased pair, so it
    must fail the job, while 2^31 - 1 still packs and unpacks exactly."""
    import pytest

    from merl_etl_spark.operators.graph import cosupply_edges

    def census(supp_keys):
        sf = tmp_path / f"sf{min(supp_keys)}"
        sf.mkdir()
        spark.createDataFrame(
            [(1, k) for k in supp_keys], "l_partkey long, l_suppkey long"
        ).write.parquet(str(sf / "lineitem.parquet"))
        return [tuple(r) for r in cosupply_edges(spark, str(sf)).collect()]

    top = 1 << 31
    assert census([top - 1, top]) == [(top - 1, top)]
    with pytest.raises(Exception, match="32-bit pack domain"):
        census([top, top + 1])
