"""Skew and co-location strategies for 100 TB joins (BASELINE.json north
star: "skewed keys hurt … salting for skew, bucketing for co-located
joins").

Three tools, one decision tree:

- **AQE skew-join** (on by default in session.py): runtime splitting of
  oversized shuffle partitions — the first line of defense, zero code.
- **Salting** (`salted_join`): when one join key is pathologically hot
  (the reference's real-world analog: one exchange wallet appearing in
  30% of transfers), explode the small side S ways and spread the big
  side across S sub-keys.  Deterministic salt (hash of the whole row)
  keeps re-runs idempotent.
- **Bucketing** (`write_bucketed`): pre-shuffle both tables into the same
  bucket layout at write time so every subsequent join/aggregation on the
  key runs with NO exchange — the right call for keys joined repeatedly
  (wallet_address, contract_address).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the large side is spread over ``n_salts``
    sub-keys by a deterministic row hash; the small side is replicated once
    per salt.  Output equals ``large.join(small, key, how)`` exactly, but a
    hot key's rows land in ``n_salts`` shuffle partitions instead of one.

    Use when AQE's skew splitting can't help (e.g. the hot key's rows must
    co-group for a following aggregation) — cost: small side ×n_salts.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    if "__salt" in large.columns or "__salt" in small.columns:
        raise ValueError(
            "salted_join reserves the '__salt' column name; rename the input column"
        )
    salt = F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(n_salts))
    big = large.withColumn("__salt", salt)
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    rep = small.select("*", salts)
    joined = big.join(rep, [key, "__salt"], how)
    return joined.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist a table pre-shuffled into ``n_buckets`` hash buckets on
    ``bucket_cols`` (optionally sorted within buckets).  Joins and
    aggregations on the bucket key then read co-located data with no
    Exchange — the write-once/join-many trade the reference made with its
    B-tree indexes (schema.sql:125-130), translated to Spark physics."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)

