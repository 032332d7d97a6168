"""Seeded input generator for the pipeline benchmark.

Every table the engine sees is written here with pyarrow from
``numpy.random.default_rng([seed, stream, index])``, so one seed gives
byte-identical files and each hour or table is independent of how many
others were generated before it.  The engine receives only these files
(and the options of the synthetic ``merl-paged`` source).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN = "0x" + "5e" * 20  # the tracked token (MERL)
OTHER_TOKEN = "0x" + "0b" * 20  # a second token the report must filter out
TOKEN_SYMBOL = "MERL"
EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)  # start of simulated hour 0
BUCKET_SECONDS = 6 * 3600

# hourly workload sizing: ~20k transfers offered per hour, 5% of them replays
HOUR_ROWS = 20_000
REPLAY_FRAC = 0.05
# Hours of transfers already stored at set-up.  A chosen size, not a
# measured one: the reference keeps every transfer it has ever ingested, so
# its table holds months of hours.  Three hours keep a warm cycle near 4 s
# on 4 cores (24 hours made it ~9 s); the cost of the ingest anti-join and
# of the report's scan growing with the table is therefore understated.
HISTORY_HOURS = 3
SNAPSHOT_HOLDERS = 50_000
COUNTERPARTIES = 5_000

# snapshot workload sizing: one 6-hour bucket of the reference's observed scale
BUCKET_HOLDERS = 329_000

_STREAM_SNAPSHOT, _STREAM_HOUR, _STREAM_PEERS, _STREAM_LAKE = 1, 2, 3, 4

UTC_US = pa.timestamp("us", tz="UTC")

RAW_TRANSFER_SCHEMA = pa.schema(
    [
        ("wallet_address", pa.string()),
        ("contract_address", pa.string()),
        ("block_number", pa.int64()),
        ("block_time_unix", pa.int64()),
        ("tx_hash", pa.string()),
        ("from_address", pa.string()),
        ("to_address", pa.string()),
        ("value_raw", pa.string()),
        ("token_symbol", pa.string()),
        ("token_decimal", pa.int32()),
        ("transaction_index", pa.int32()),
        ("ingested_at", UTC_US),
    ]
)
HOLDER_SCHEMA = pa.schema(
    [
        ("bucket_start_utc", UTC_US),
        ("contract_address", pa.string()),
        ("holder_address", pa.string()),
        ("token_decimal", pa.int32()),
        ("quantity_raw", pa.string()),
        ("updated_at", UTC_US),
    ]
)


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index + 1_000_000])


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    blob = rng.bytes(n * nbytes).hex()
    w = 2 * nbytes
    return ["0x" + blob[i * w : (i + 1) * w] for i in range(n)]


def _raw_amounts(rng: np.random.Generator, n: int, lo_exp: int, hi_exp: int) -> list[str]:
    """Heavy-tailed base-unit amounts as exact decimal strings."""
    mant = rng.integers(1, 1000, n)
    exp = rng.integers(lo_exp, hi_exp, n)
    return [f"{m}{'0' * e}" for m, e in zip(mant.tolist(), exp.tolist())]


def hour_start(h: int) -> dt.datetime:
    return EPOCH + dt.timedelta(hours=h)


# ---------------------------------------------------------------------------
# hourly workload: holder snapshot, Top-100, transfer history and hours
# ---------------------------------------------------------------------------


def holder_snapshot(seed: int) -> pa.Table:
    """The set-up holder snapshot (one 6h bucket before hour 0)."""
    rng = _rng(seed, _STREAM_SNAPSHOT)
    n = SNAPSHOT_HOLDERS
    bucket = EPOCH - dt.timedelta(seconds=BUCKET_SECONDS)
    return pa.table(
        {
            "bucket_start_utc": pa.array([bucket] * n, UTC_US),
            "contract_address": pa.array([TOKEN] * n),
            "holder_address": pa.array(_hex(rng, n, 20)),
            "token_decimal": pa.array(np.full(n, 18, np.int32)),
            "quantity_raw": pa.array(_raw_amounts(rng, n, 15, 27)),
            "updated_at": pa.array([bucket] * n, UTC_US),
        },
        schema=HOLDER_SCHEMA,
    )


def top100_of(holders: pa.Table) -> list[str]:
    """Reference Top-100: quantity desc, holder asc (all rows share one
    bucket, token and token_decimal, so raw order is scaled order)."""
    addrs = holders.column("holder_address").to_pylist()
    qty = [int(q) for q in holders.column("quantity_raw").to_pylist()]
    order = sorted(range(len(addrs)), key=lambda i: (-qty[i], addrs[i]))
    return [addrs[i] for i in order[:100]]


def _fresh_hour(seed: int, h: int, wallets: list[str], n: int) -> dict[str, list]:
    """Newly-seen transfers of hour ``h``: every row is a Top-100 wallet's
    transfer with a counterparty, ~10% of them in another token."""
    peers = _hex(_rng(seed, _STREAM_PEERS), COUNTERPARTIES, 20)
    rng = _rng(seed, _STREAM_HOUR, h)
    t0 = int(hour_start(h).timestamp())
    unix = np.sort(t0 + rng.integers(0, 3600, n))
    wallet_ix = rng.integers(0, len(wallets), n).tolist()
    peer_ix = rng.integers(0, COUNTERPARTIES, n).tolist()
    inbound = rng.integers(0, 2, n).astype(bool).tolist()
    other_token = (rng.random(n) < 0.1).tolist()
    tx_index = rng.integers(0, 300, n)
    tx_null = rng.random(n) < 0.1
    wallet = [wallets[i] for i in wallet_ix]
    peer = [peers[i] for i in peer_ix]
    return {
        "wallet_address": wallet,
        "contract_address": [OTHER_TOKEN if o else TOKEN for o in other_token],
        "block_number": (1_000_000 + unix // 3).tolist(),
        "block_time_unix": unix.tolist(),
        "tx_hash": _hex(rng, n, 32),
        "from_address": [p if i else w for w, p, i in zip(wallet, peer, inbound)],
        "to_address": [w if i else p for w, p, i in zip(wallet, peer, inbound)],
        "value_raw": _raw_amounts(rng, n, 15, 23),
        "token_symbol": [TOKEN_SYMBOL] * n,
        "token_decimal": [18] * n,
        "transaction_index": [None if z else int(t) for z, t in zip(tx_null.tolist(), tx_index)],
        "ingested_at": [hour_start(h + 1)] * n,
    }


def n_replays() -> int:
    return int(HOUR_ROWS * REPLAY_FRAC)


def hour_batch(seed: int, h: int, wallets: list[str]) -> tuple[pa.Table, int]:
    """Raw rows offered in hour ``h``: fresh rows plus exact replays of
    hour ``h-1``'s fresh rows (the cursor re-scan overlap).  Returns the
    table and the number of fresh rows (= rows that must be appended)."""
    n_fresh = HOUR_ROWS - n_replays()
    fresh = _fresh_hour(seed, h, wallets, n_fresh)
    prev = _fresh_hour(seed, h - 1, wallets, n_fresh)
    pick = _rng(seed, _STREAM_HOUR, -h - 1).choice(n_fresh, n_replays(), replace=False)
    cols = {k: v + [prev[k][i] for i in pick.tolist()] for k, v in fresh.items()}
    return pa.table(cols, schema=RAW_TRANSFER_SCHEMA), n_fresh


def stored_rows(raw: pa.Table) -> pa.Table:
    """Raw transfers → stored shape (what ingest_transfers derives)."""
    unix = raw.column("block_time_unix").to_numpy()
    times = pa.array(unix * 1_000_000, pa.int64()).cast(UTC_US)
    padded = [v.rjust(19, "0") for v in raw.column("value_raw").to_pylist()]
    value = pa.array([f"{p[:-18]}.{p[-18:]}" for p in padded]).cast(pa.decimal128(38, 18))
    return raw.append_column("block_time_utc", times).append_column("value_18d", value)


def transfer_history(seed: int, wallets: list[str]) -> pa.Table:
    """The existing transfers table: HISTORY_HOURS hours before hour 0."""
    n_fresh = HOUR_ROWS - n_replays()
    parts = [
        stored_rows(pa.table(_fresh_hour(seed, h, wallets, n_fresh), schema=RAW_TRANSFER_SCHEMA))
        for h in range(-HISTORY_HOURS, 0)
    ]
    return pa.concat_tables(parts)


# ---------------------------------------------------------------------------
# snapshot workload: the synthetic paged source, regenerated in Python
# ---------------------------------------------------------------------------


def bucket_start(k: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=k * BUCKET_SECONDS)


def balance_factor(holder_hex6: np.ndarray, bucket: int, rev: int) -> np.ndarray:
    """Per-(holder, bucket, revision) balance drift multiplier in
    [1, 1000]; the snapshot workload's landing step applies the same
    formula in Spark, so a re-run revision changes balances."""
    return 1 + (holder_hex6 + bucket * 7919 + rev * 104729) % 1000


# ---------------------------------------------------------------------------
# lake-queries workload: the fixture tables the query registry reads
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
_PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "widget", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()

LAKE_SF = 0.01  # lineitem rows = 6M x LAKE_SF


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, span_days: int) -> pa.Array:
    base = int(lo.timestamp()) * 1_000_000
    us = base + rng.integers(0, span_days, n) * 86_400_000_000
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def lake_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema + events/documents/embeddings with the
    column names, types and value ranges of the driver fixtures."""
    out: dict[str, pa.Table] = {}
    sf = LAKE_SF
    r = lambda i: _rng(seed, _STREAM_LAKE, i)  # noqa: E731
    n_cust, n_supp, n_part = int(150_000 * sf), max(100, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    d1995 = dt.datetime(1995, 1, 1)

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = r(1)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, n_cust)],
        }
    )
    g = r(2)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    g = r(3)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[t] for t in g.integers(0, 6, n_part)],
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    g = r(4)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[s] for s in g.integers(0, 3, n_ord)],
            "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _days(g, n_ord, d1995, 2405),
            "o_orderpriority": [_PRIORITIES[p] for p in g.integers(0, 5, n_ord)],
        }
    )
    g = r(5)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
            "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(g.uniform(900, 105_000, n_li), 2),
            "l_discount": g.integers(0, 11, n_li) / 100,
            "l_tax": g.integers(0, 9, n_li) / 100,
            "l_returnflag": [("A", "N", "R")[f] for f in g.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[s] for s in g.integers(0, 2, n_li)],
            "l_shipdate": _days(g, n_li, d1995 + dt.timedelta(days=1), 2499),
        }
    )
    g = r(6)
    ev_ts = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev)) + int(
        dt.datetime(2024, 1, 1).timestamp() * 1_000_000
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, max(1, n_ev * 3 // 200), n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[t] for t in g.integers(0, 5, n_ev)],
            "value": np.round(g.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    g = r(7)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(g.integers(0, i))].split()
            words = [_VOCAB[int(g.integers(0, 30))] if g.random() < 0.1 else w for w in words]
            texts.append(" ".join(words[:100] + ["dup"]))
        else:
            texts.append(" ".join(_VOCAB[j] for j in g.integers(0, 30, int(g.integers(10, 101)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": [_LANGS[j] for j in g.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    g = r(8)
    labels = g.integers(0, 10, n_emb)
    centroids = g.normal(0, 1, (10, 64))
    vec = 0.6 * centroids[labels] + g.normal(0, 1, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_lake(seed: int, out_dir: str) -> dict[str, int]:
    """Write every lake table as ``<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in lake_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def write_all(seed: int, out_dir: str) -> None:
    """Every generated input of every workload, for inspection and the
    determinism test."""
    snap = holder_snapshot(seed)
    top = top100_of(snap)
    pq.write_table(snap, os.path.join(out_dir, "holders_snapshot.parquet"))
    pq.write_table(transfer_history(seed, top), os.path.join(out_dir, "transfers.parquet"))
    for h in range(2):
        pq.write_table(hour_batch(seed, h, top)[0], os.path.join(out_dir, f"hour{h}.parquet"))
    write_lake(seed, os.path.join(out_dir, "lake"))

