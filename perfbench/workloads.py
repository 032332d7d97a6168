"""The three benchmark workloads.

Each workload drives the engine's public functions from one client in a
closed loop.  ``prepare(i)`` makes op ``i``'s inputs (untimed), ``run(i)``
is the timed op and returns the rows it was offered, and ``check()``
(untimed, after the loop) returns the ops whose outputs were wrong.

- ``hourly``: jobs 2 and 3 of the reference (transfer ingestion, cursor
  merge, whale-activity report) once per simulated hour.  Small batches
  make latency depend on per-job and per-task overhead, and reads and
  writes alternate on a transfers table that keeps growing.
- ``snapshot-6h``: one 6-hour holder bucket per op, read through the
  ``merl-paged`` Python DataSource, landed as parquet and merged into
  state by the streaming Top-100 maintenance; every other op re-runs an
  earlier bucket so the last-wins merge replaces real rows.  Throughput
  bound; the only workload through the DataSource, the streaming layer
  and ``merge_into_parquet``.
- ``lake-queries``: read-only analyst queries from ``registry.QUERIES``
  over generated fixture tables; most of the work is in ``operators``
  and ``functions``, none in ``sinks`` or ``streaming``.  One warm-up
  pass plus one timed pass over the 22 queries takes over a minute per
  run, so it is run by hand and is not among BENCHMARK.json's workloads.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs as I
from tracer import dir_usage

LAKE_QUERIES = [
    # reference-core queries
    "win-rank-top100",
    "plan-top100-derive",
    "join-semi-top100",
    "join-latest-bucket",
    "join-asof",
    "agg-conditional-flow",
    "sort-movers-multi",
    "stream-sliding-60m",
    "stream-tumbling-6h",
    "uint256-exact-sum",
    "cdc-snapshot-diff",
    "dedup-exact",
    # one query per operator family
    "dedup-minhash-lsh",
    "sim-topk-cosine",
    "text-tfidf",
    "analytics-pricing-summary",
    "analytics-shipping-priority",
    "agg-approx-sketches",
    "graph-components",
    "dq-expectations",
    "ts-ewma",
    "intervals-coalesce",
]


def _naive(t: dt.datetime) -> dt.datetime:
    return t.replace(tzinfo=None)


def _micros(t: dt.datetime) -> int:
    return int(t.timestamp()) * 1_000_000


class Workload:
    name = ""
    warmup_ops = 1
    ops_per_round = 1  # the timed loop stops only after whole rounds

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed

    def setup_inputs(self) -> None: ...

    def prepare(self, i: int) -> None: ...

    def run(self, i: int) -> int:
        raise NotImplementedError

    def check(self, op_ids: list[int]) -> tuple[set[int], list[str]]:
        raise NotImplementedError

    def layer_metrics(self, ops: list[int], p50) -> dict[str, float]:
        """Workload-specific per-layer metrics of the timed ops; ``p50``
        maps a span name to its median seconds per op."""
        return {}

    def input_bytes(self, i: int) -> int:
        return 0


# ---------------------------------------------------------------------------
# hourly
# ---------------------------------------------------------------------------


def _fmt2(d: Decimal) -> str:
    """S.commify: DECIMAL(38,2) HALF_UP, thousands separators."""
    return f"{d.quantize(Decimal('0.01'), rounding=ROUND_HALF_UP):,.2f}"


_TOTALS_RE = re.compile(r"active wallets: (\d+) \| txs: (\d+)\nin: ([\d,.-]+) \| out: ([\d,.-]+) \| net: ([\d,.-]+)")
_MOVER_RE = re.compile(r'^\d+\. <a href="[^"]*/address/(0x[0-9a-f]{40})">[^<]*</a> — ([\d.]+)([KMBT]?) \((\d+) txs\)$', re.M)


class Hourly(Workload):
    name = "hourly"
    warmup_ops = 2
    ops_per_round = 5  # five hours per round, so every run times at least five cycles

    def setup_inputs(self) -> None:
        from merl_etl_spark.plans.jobs import derive_top100

        snap = I.holder_snapshot(self.seed)
        self.top = I.top100_of(snap)
        self.transfers = os.path.join(self.work, "transfers")
        os.makedirs(self.transfers)
        pq.write_table(snap, os.path.join(self.work, "holders.parquet"))
        pq.write_table(
            I.transfer_history(self.seed, self.top), os.path.join(self.transfers, "history.parquet")
        )
        cursors = pa.table(
            {"stream": pa.array([], pa.string()), "last_scanned_block": pa.array([], pa.int64()),
             "last_page": pa.array([], pa.int64())}
        )
        os.makedirs(self._cursor_dir(0))
        pq.write_table(cursors, os.path.join(self._cursor_dir(0), "empty.parquet"))
        # job 1's output, fixed for the run: the Top-100 the hourly jobs track
        top100 = derive_top100(self.spark.read.parquet(os.path.join(self.work, "holders.parquet")), I.TOKEN)
        top100.write.parquet(os.path.join(self.work, "top100"))
        self.top100 = self.spark.read.parquet(os.path.join(self.work, "top100"))
        got = [r.holder_address for r in self.top100.orderBy("rnk").collect()]
        if got != self.top:
            raise RuntimeError("derive_top100 disagrees with the generator's Top-100")
        self.fresh: dict[int, pa.Table] = {}
        self.offered: dict[int, int] = {}
        self.messages: dict[int, str] = {}
        self.report_files: dict[int, int] = {}

    def _cursor_dir(self, h: int) -> str:
        return os.path.join(self.work, "cursors", str(h))

    def _raw_path(self, h: int) -> str:
        return os.path.join(self.work, "raw", f"hour{h}.parquet")

    def prepare(self, h: int) -> None:
        batch, n_fresh = I.hour_batch(self.seed, h, self.top)
        os.makedirs(os.path.dirname(self._raw_path(h)), exist_ok=True)
        pq.write_table(batch, self._raw_path(h))
        self.fresh[h] = batch.slice(0, n_fresh)
        self.offered[h] = batch.num_rows

    def input_bytes(self, h: int) -> int:
        return os.path.getsize(self._raw_path(h))

    def run(self, h: int) -> int:
        from merl_etl_spark.plans.jobs import activity_report, ingest_transfers
        from merl_etl_spark.plans.reporting import CollectingNotifier, render_activity_report

        spark, tr = self.spark, self.tracer
        with tr.span("sources.tables.read", h):
            raw = spark.read.parquet(self._raw_path(h))
            existing = spark.read.parquet(self.transfers)
            cursors = spark.read.parquet(self._cursor_dir(h))
        with tr.span("plans.ingest_transfers", h, dirs=(self.transfers,)):
            new_rows, merged_cursors = ingest_transfers(raw, existing, cursors)
            new_rows.write.mode("append").parquet(self.transfers)
        with tr.span("sinks.cursor_merge", h, dirs=(self._cursor_dir(h + 1),)):
            merged_cursors.write.parquet(self._cursor_dir(h + 1))
        with tr.span("plans.activity_report", h):
            asof = _naive(I.hour_start(h + 1))
            table = spark.read.parquet(self.transfers)
            totals, movers = activity_report(table, self.top100, I.TOKEN, asof)
            message = render_activity_report(totals, movers, I.TOKEN_SYMBOL, str(asof))
            notifier = CollectingNotifier()
            notifier.send(message)
            if tr.enabled:
                self.report_files[h] = tr.measure(lambda: len(table.inputFiles()))
        self.messages[h] = notifier.sent[0][0]
        return self.offered[h]

    # -- correctness -------------------------------------------------------

    def _expected_report(self, h: int) -> tuple[list[str], list[tuple[str, int, Decimal]]]:
        """Totals and top-10 movers recomputed from the generated rows."""
        fresh = self.fresh[h]
        rows = fresh.filter(pc.equal(fresh["contract_address"], I.TOKEN))
        per: dict[str, list[int]] = {}  # wallet -> [in raw, out raw, txs]
        cols = ("wallet_address", "from_address", "to_address", "value_raw")
        for w, f, t, v in zip(*(rows[c].to_pylist() for c in cols)):
            acc = per.setdefault(w, [0, 0, 0])
            acc[0] += int(v) if w == t else 0
            acc[1] += int(v) if w == f else 0
            acc[2] += 1
        with localcontext(prec=100):
            human = {w: [Decimal(a[0]).scaleb(-18), Decimal(a[1]).scaleb(-18), a[2]] for w, a in per.items()}
            tin = sum((a[0] for a in human.values()), Decimal(0))
            tout = sum((a[1] for a in human.values()), Decimal(0))
            totals = [str(len(per)), str(sum(a[2] for a in per.values())),
                      _fmt2(tin), _fmt2(tout), _fmt2(tin - tout)]
        movers = sorted(human.items(), key=lambda kv: (-max(kv[1][0], kv[1][1]), -kv[1][2], kv[0]))
        return totals, [(w, a[2], max(a[0], a[1])) for w, a in movers[:10]]

    def _check_message(self, h: int) -> str | None:
        msg = self.messages.get(h)
        if msg is None:
            return "no report sent"
        m = _TOTALS_RE.search(msg)
        if m is None:
            return "report totals missing"
        totals, movers = self._expected_report(h)
        if list(m.groups()) != totals:
            return f"totals {m.groups()} != expected {totals}"
        tin, tout, net = (Decimal(x.replace(",", "")) for x in m.groups()[2:])
        if abs(net - (tin - tout)) > Decimal("0.01"):
            return f"net {net} != in {tin} - out {tout}"
        got = _MOVER_RE.findall(msg)
        if [(w, int(n)) for w, _, _, n in got] != [(w, n) for w, n, _ in movers]:
            return "movers differ from the recomputation"
        units = {"": 1, "K": 1e3, "M": 1e6, "B": 1e9, "T": 1e12}
        for (_, val, unit, _), (_, _, flow) in zip(got, movers):
            if abs(float(val) * units[unit] - float(flow)) > 0.006 * units[unit]:
                return f"mover flow {val}{unit} != {flow}"
        return None

    def check(self, op_ids: list[int]) -> tuple[set[int], list[str]]:
        failed, notes = set(), []
        stored = pq.read_table(self.transfers, columns=["ingested_at", "tx_hash"])
        counts = pc.value_counts(stored.column("ingested_at").cast(pa.int64()))
        per_hour = dict(zip(counts.field("values").to_pylist(), counts.field("counts").to_pylist()))
        if pc.count_distinct(stored.column("tx_hash")).as_py() != stored.num_rows:
            failed.update(op_ids)
            notes.append("duplicate transfers appended")
        expected_cursor: dict[str, int] = {}
        for h in sorted(self.fresh):
            f = self.fresh[h]
            for w, c, b in zip(*(f[k].to_pylist() for k in ("wallet_address", "contract_address", "block_number"))):
                key = f"tokentx:{w}:{c}"
                expected_cursor[key] = max(expected_cursor.get(key, b), b)
            problems = []
            n = per_hour.get(_micros(I.hour_start(h + 1)), 0)
            if n != self.fresh[h].num_rows:
                problems.append(f"appended {n} rows, expected {self.fresh[h].num_rows}")
            cur = pq.read_table(self._cursor_dir(h + 1))
            got = dict(zip(cur["stream"].to_pylist(), cur["last_scanned_block"].to_pylist()))
            if got != expected_cursor:
                problems.append("cursor table differs from the running max block per stream")
            err = self._check_message(h)
            if err:
                problems.append(err)
            if problems:
                failed.add(h)
                notes.append(f"hour {h}: " + "; ".join(problems))
        self.appended = {h: per_hour.get(_micros(I.hour_start(h + 1)), 0) for h in self.fresh}
        return failed, notes

    def layer_metrics(self, ops: list[int], p50) -> dict[str, float]:
        return {
            "plans.ingest_transfers.new_ratio": sum(self.appended[h] for h in ops)
            / sum(self.offered[h] for h in ops),
            "sources.tables.transfer_files": float(
                np.median([self.report_files[h] for h in ops if h in self.report_files] or [0])
            ),
        }


# ---------------------------------------------------------------------------
# snapshot-6h
# ---------------------------------------------------------------------------

HOLDER_DDL = (
    "bucket_start_utc timestamp, contract_address string, holder_address string, "
    "token_decimal int, quantity_raw string, updated_at timestamp"
)
WARMUP_HOLDERS = I.BUCKET_HOLDERS // 100


def paged_holders(seed: int, n: int) -> tuple[list[str], list[int]]:
    """The synthetic ``merl-paged`` transport's rows, recomputed
    independently: slot i → sha256(f"{seed}:{i}")."""
    addrs, qty = [], []
    for i in range(n):
        h = hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()
        addrs.append("0x" + h[:40])
        qty.append(int(h[:12], 16))
    return addrs, qty


class Snapshot(Workload):
    name = "snapshot-6h"
    warmup_ops = 2
    # two re-runs and two new buckets per round, so every run has the same mix
    # and its medians rest on at least four ops
    ops_per_round = 4

    def setup_inputs(self) -> None:
        from merl_etl_spark.sources.datasource import register_sources

        register_sources(self.spark)
        self.landing = os.path.join(self.work, "landing")
        self.state = os.path.join(self.work, "state")
        self.output = os.path.join(self.work, "top100")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        os.makedirs(self.landing)
        self.stream = self.spark.readStream.schema(HOLDER_DDL).parquet(os.path.join(self.landing, "*"))
        self.plan: dict[int, tuple[int, int, int]] = {}  # op -> (bucket, rev, rows)
        self.latest: dict[int, tuple[int, int]] = {}  # bucket -> (rev, rows)
        self.progress: dict[int, list[dict]] = {}

    def prepare(self, i: int) -> None:
        """Op 0 warms up on a hundredth-size bucket and op 1 on a full-size
        new bucket; from then on re-runs of a seeded earlier full bucket
        (even ops) and new buckets (odd ops) alternate.  One re-run per new
        bucket is a chosen share: the reference re-runs a bucket
        idempotently whenever its cron fires again inside the same 6-hour
        window, but records no rate."""
        if i == 0:
            bucket, rows = 0, WARMUP_HOLDERS
        elif i % 2:
            bucket, rows = 1 + sum(1 for b in self.latest if b > 0), I.BUCKET_HOLDERS
        else:
            full = sorted(b for b in self.latest if b > 0)
            bucket = full[int(np.random.default_rng([self.seed, 5, i]).integers(0, len(full)))]
            rows = I.BUCKET_HOLDERS
        rev = self.latest[bucket][0] + 1 if bucket in self.latest else 0
        self.plan[i] = (bucket, rev, rows)
        self.latest[bucket] = (rev, rows)

    def _landing_dir(self, i: int) -> str:
        b, rev, _ = self.plan[i]
        return os.path.join(self.landing, f"b{b}r{rev}")

    def input_bytes(self, i: int) -> int:
        return dir_usage(self._landing_dir(i))[0]

    def run(self, i: int) -> int:
        from pyspark.sql import functions as F

        from merl_etl_spark.streaming.pipeline import run_top100_maintenance

        spark, tr = self.spark, self.tracer
        bucket, rev, rows = self.plan[i]
        start = F.lit(_naive(I.bucket_start(bucket))).cast("timestamp")
        with tr.span("sources.merl_paged", i, dirs=(self.landing,)):
            src = (
                spark.read.format("merl-paged")
                .option("transport", "synthetic")
                .option("seed", str(self.seed))
                .option("total_rows", str(rows))
                .option("page_size", "500")
                .option("contract", I.TOKEN)
                .option("num_partitions", str(spark.sparkContext.defaultParallelism))
                .load()
            )
            hex6 = F.conv(F.substring("holder_address", 3, 6), 16, 10).cast("long")
            factor = F.lit(1) + F.pmod(hex6 + F.lit(bucket * 7919 + rev * 104729), F.lit(1000))
            qty = F.col("quantity_raw").cast("decimal(38,0)") * F.lit(10**6) * factor
            src.select(
                start.alias("bucket_start_utc"),
                "contract_address",
                "holder_address",
                F.lit(18).alias("token_decimal"),
                qty.cast("decimal(38,0)").cast("string").alias("quantity_raw"),
                (start + F.expr(f"INTERVAL {rev} MINUTES")).alias("updated_at"),
            ).write.parquet(self._landing_dir(i))
        with tr.span("streaming.run_top100_maintenance", i, dirs=(self.state, self.output)) as sp:
            query = run_top100_maintenance(
                spark, self.stream, I.TOKEN, self.state, self.output, self.checkpoint
            )
            query.awaitTermination()
            tr.adopt_group(sp, str(query.runId))
            self.progress[i] = query.recentProgress
        return rows

    def check(self, op_ids: list[int]) -> tuple[set[int], list[str]]:
        from pyspark.sql import functions as F

        failed, notes = set(), []
        n_max = max(r for _, r in self.latest.values())
        addr_list, base_list = paged_holders(self.seed, n_max)
        addrs = np.array(addr_list)
        base = np.array(base_list, dtype=np.int64)
        hex6 = np.array([int(a[2:8], 16) for a in addr_list], dtype=np.int64)
        out = self.spark.read.parquet(self.output).collect()
        by_bucket: dict[dt.datetime, list] = {}
        for r in out:
            by_bucket.setdefault(r.bucket_start_utc, []).append(r)
        for bucket, (rev, rows) in sorted(self.latest.items()):
            # base < 2^48 and factor <= 1000, so base*factor ranks exactly in int64
            scaled = base[:rows] * I.balance_factor(hex6[:rows], bucket, rev)
            order = np.lexsort((addrs[:rows], -scaled))[:100]
            want = [
                (k + 1, str(addrs[j]),
                 (Decimal(int(scaled[j]) * 10**6) / Decimal(10**18)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
                for k, j in enumerate(order)
            ]
            got = sorted(
                (r.rnk, r.holder_address, r.balance)
                for r in by_bucket.get(_naive(I.bucket_start(bucket)), [])
            )
            if got != want:
                bad = {i for i, p in self.plan.items() if p[0] == bucket}
                failed.update(bad & set(op_ids))
                notes.append(f"bucket {bucket}: Top-100 differs from the pandas recomputation ({len(got)} rows)")
        state = self.spark.read.parquet(self.state)
        keys = ["bucket_start_utc", "contract_address", "holder_address"]
        dup = state.groupBy(*keys).count().filter(F.col("count") > 1).count()
        sizes = {r[0]: r[1] for r in state.groupBy("bucket_start_utc").count().collect()}
        want_sizes = {_naive(I.bucket_start(b)): rows for b, (_, rows) in self.latest.items()}
        if dup or sizes != want_sizes:
            failed.update(op_ids)
            notes.append(f"state: {dup} duplicate keys, bucket sizes {sizes} != {want_sizes}")
        return failed, notes

    def layer_metrics(self, ops: list[int], p50) -> dict[str, float]:
        trig, add, read = [], [], 0
        landed = 0
        for i in ops:
            prog = self.progress.get(i, [])
            t = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3
            a = sum(p["durationMs"].get("addBatch", 0) for p in prog) / 1e3
            trig.append(t)
            add.append(a)
            read += sum(p["numInputRows"] for p in prog)
            landed += self.plan[i][2]
        if not landed:
            return {}
        return {
            "streaming.trigger.p50_s": float(np.median(trig)),
            "streaming.add_batch.p50_s": float(np.median(add)),
            "streaming.overhead.p50_s": float(np.median([t - a for t, a in zip(trig, add)])),
            "streaming.rows_read_per_row": read / landed,
        }


# ---------------------------------------------------------------------------
# lake-queries
# ---------------------------------------------------------------------------


def _canon_cell(v) -> str:
    """Order-insensitive value canonicalization (tests/oracle_check.py's
    rules: floats by repr, decimals with their full scale, NaN as NULL)."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return "0" if v == 0.0 else repr(v)
    if isinstance(v, Decimal):
        return "dec:" + format(v.copy_abs() if v.is_zero() else v, "f")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon_cell(x) for x in seq) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_hash(t: pa.Table) -> tuple[int, str]:
    """(row count, sha256 of the column names and the sorted canonical
    rows), independent of column and row order."""
    cols = sorted(t.column_names)
    df = t.select(cols).to_pandas()
    rows = sorted("\x1f".join(_canon_cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256("|".join(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\x1e")
    return t.num_rows, h.hexdigest()


class Lake(Workload):
    name = "lake-queries"
    warmup_ops = len(LAKE_QUERIES)
    ops_per_round = len(LAKE_QUERIES)

    def setup_inputs(self) -> None:
        from merl_etl_spark import registry

        registry.load_all()
        self.registry = registry
        self.lake = os.path.join(self.work, "lake")
        self.table_rows = I.write_lake(self.seed, self.lake)
        # rows offered to a query = rows of every table its oracle reads
        self.rows = {}
        for q in LAKE_QUERIES:
            sql = registry.ORACLES[q]
            self.rows[q] = sum(
                n for t, n in self.table_rows.items()
                if re.search(rf"\b(from|join)\s+{t}\b", sql, re.IGNORECASE)
            )
        self.results: dict[str, pa.Table] = {}

    def query(self, i: int) -> str:
        return LAKE_QUERIES[i % len(LAKE_QUERIES)]

    def run(self, i: int) -> int:
        q = self.query(i)
        with self.tracer.span(f"q.{q}", i):
            result = self.registry.QUERIES[q](self.spark, self.lake).toArrow()
        if i >= self.warmup_ops and q not in self.results:
            self.results[q] = result
        return self.rows[q]

    def layer_metrics(self, ops: list[int], p50) -> dict[str, float]:
        return {f"q.{q}.p50_s": p50(f"q.{q}") for q in LAKE_QUERIES}

    def check(self, op_ids: list[int]) -> tuple[set[int], list[str]]:
        import duckdb

        failed, notes = set(), []
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.lake, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in LAKE_QUERIES:
                want = con.execute(self.registry.ORACLES[q]).fetch_arrow_table()
                got = self.results.get(q)
                if got is None or table_hash(got) != table_hash(want):
                    failed.update(i for i in op_ids if self.query(i) == q)
                    notes.append(f"{q}: result differs from its DuckDB oracle")
        finally:
            con.close()
        return failed, notes


WORKLOADS = {w.name: w for w in (Hourly, Snapshot, Lake)}
