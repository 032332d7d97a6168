"""Self-check harness replicating the driver's DuckDB-oracle comparison:
run the Spark query and the oracle SQL on the same parquet fixtures, then
compare row count, schema (column names), and order-insensitive values.

Strictness: cells are canonicalized WITHOUT cross-type normalization — a
Decimal keeps its full scale string (trailing zeros and all), so a query
whose Spark output scale differs from the oracle's goes red here exactly
as it does under the driver's hash (round-1 lesson: stripping trailing
zeros locally masked 15 driver hash failures).  Policy: final outputs
should not contain DecimalType at all — cast to double at the output
boundary (bit-identical across engines while unscaled < 2^53) and keep
the exact decimal math internal.
"""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import pandas as pd

# the fixture tables (TESTDATA.md), each a DuckDB view for the oracles
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_run(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # Arrow path: DECIMAL stays Decimal (fetchdf would downcast to float64)
    return con.execute(sql).fetch_arrow_table().to_pandas()


def _canon_cell(v: object) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v == 0.0:
            return "0"  # normalize -0.0 (a sum of negatives can round to it)
        return repr(v)
    if isinstance(v, Decimal):
        # NO trailing-zero stripping: scale differences must fail the check,
        # mirroring the driver's canonicalization (VERDICT r1 §What's-wrong 1).
        # Sign-only normalization of zero: Decimal('-0.00') → 'dec:0.00'
        # (keeps the scale, drops the sign) so a negative-zero decimal from
        # one engine doesn't mismatch the other's positive zero.
        if v.is_zero():
            v = v.copy_abs()
        return "dec:" + format(v, "f")
    if isinstance(v, (pd.Timestamp,)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon_cell(x) for x in seq) + "]"
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def compare(spark_df, oracle_df: pd.DataFrame, name: str = "") -> None:
    sp = spark_df.toPandas()
    assert sorted(sp.columns) == sorted(oracle_df.columns), (
        f"{name}: column mismatch spark={sorted(sp.columns)} oracle={sorted(oracle_df.columns)}"
    )
    assert len(sp) == len(oracle_df), f"{name}: rowcount spark={len(sp)} oracle={len(oracle_df)}"
    a, b = canon(sp), canon(oracle_df)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
