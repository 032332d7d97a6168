#!/usr/bin/env python
"""Time registered queries at 100x scale on deterministic stress corpora.

    python tools/stress.py [tag] [q1,q2,...]

The query list defaults to ``DEFAULT_QUERIES``; the tag (default "run")
names the artifact ``plans/stress/<tag>.json``.  Each query is timed cold
and hash-sum-forced: one collect of a ``(count, sum(xxhash64(row)))``
aggregate, so every column of every row is computed (a bare count() lets
Catalyst prune projections).

Corpora, generated once under ``STRESS_ROOT`` on first read, all
xxhash64-derived (no RNG state) so a regeneration is identical:

- events: 10M rows, the fixture's schema, 500k users over 30 days;
- embeddings: 500k x 64d float vectors, 10 labels;
- documents: 500k 40-word docs in a skewed 5-language mix, 20 sources;
- orders / lineitem / customer / supplier / part: the sf0.1 TPC-H star
  scaled 100x (15M orders, ~60M lineitem, 1.5M customers, 100k
  suppliers, 2M parts), same names, dtypes and vocabularies;
- entity resolution (``operators/linkage.py``) reads ER-shaped parts
  instead: each fixture part in 20 families x 5 members whose names
  differ by one trailing digit (within-family edit <= 2, cross-family
  >= 4) — 2M records over 100x entities.

Every table read goes through one router: before any query runs, each
loaded ``merl_etl_spark`` module that still holds the original
``load_table`` gets a ``Router`` bound to it, so no hand-kept module list
can go stale.  Tables without a corpus (nation, region) come from the
fixture.  A query whose defining module does not carry a router raises
instead of reading fixture-scale data under a 100x label.

``graph-components-ring-census`` is not a registered query: it runs the
label-propagation core of graph-components on a 2M-node ring graph
(200k rings of 10) and asserts the known census — every component found,
every one of size 10, converged by the last round.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from merl_etl_spark.registry import QUERIES, load_all  # noqa: E402
from merl_etl_spark.session import get_spark  # noqa: E402
from merl_etl_spark.sources.tables import DEFAULT_SF_DIR, load_table  # noqa: E402

STRESS_ROOT = "/tmp/stress100"
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "stress")
RING_CENSUS = "graph-components-ring-census"

DEFAULT_QUERIES = [
    "agg-weighted-median",
    "join-asof",
    "join-asof-nearest",
    "join-asof-keyed",
    "graph-triangles",
    "graph-jaccard-links",
    "graph-bfs-hops",
    "graph-components",
    "dq-primary-keys",
    "dq-referential",
    "link-fuzzy-match",
    "text-textrank-keywords",
]

# per-query session settings: components over ~177M directed edges OOM the
# driver JVM under the default localCheckpoint, so golden-record cuts its
# lineage to the durable checkpoint directory instead
QUERY_CONFS = {"link-golden-record": {"spark.merl.checkpoint.reliable": "true"}}


# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------


def _events(spark: SparkSession) -> DataFrame:
    types = "array('view', 'click', 'purchase', 'signup', 'error')"
    return spark.range(0, 10_000_000).select(
        F.col("id").alias("event_id"),
        F.expr(
            "timestampadd(SECOND, CAST(id % 2592000 AS INT), "
            "TIMESTAMP_NTZ '2024-01-01 00:00:00')"
        ).alias("ts"),
        F.expr("pmod(xxhash64(id), 500000)").alias("user_id"),
        F.expr(f"element_at({types}, CAST(pmod(xxhash64(id + 7), 5) AS INT) + 1)").alias(
            "event_type"
        ),
        F.expr("CAST(pmod(xxhash64(id + 13), 10000) AS DOUBLE) / 100.0").alias("value"),
        F.lit('{"k": 1}').alias("props"),
    ).repartition(32)


def _embeddings(spark: SparkSession) -> DataFrame:
    # pseudo-random floats in [-1, 1): hash of (id, dim)
    return spark.range(1, 500_001).select(
        F.col("id").alias("vec_id"),
        F.expr(
            """transform(sequence(0, 63), d -> CAST(
              (pmod(xxhash64(id * 64 + d), 2000000) - 1000000)
              / CAST(1000000 AS DOUBLE) AS FLOAT))"""
        ).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    ).repartition(32)


def _documents(spark: SparkSession) -> DataFrame:
    words = (
        "array('data', 'spark', 'shuffle', 'vector', 'token', 'model', "
        "'quality', 'filterable', 'aggregate', 'distributed', 'exactly', "
        "'pipeline', 'partition', 'training', 'corpus', 'evaluation')"
    )
    langs = "array('en','en','en','de','de','es','fr','pt','pt','pt')"
    return (
        spark.range(0, 500_000)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"""array_join(transform(sequence(0, 39), w ->
                  concat(element_at({words},
                         CAST(pmod(xxhash64(id * 40 + w), 16) AS INT) + 1),
                         CASE WHEN w % 8 = 7 THEN '.' ELSE '' END)), ' ')"""
            ).alias("text"),
            F.expr(f"element_at({langs}, CAST(pmod(xxhash64(id + 7), 10) AS INT) + 1)").alias(
                "lang"
            ),
            F.expr("concat('src_', CAST(pmod(xxhash64(id + 3), 20) AS STRING))").alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
    )


_ORDERS = 15_000_000
_CUSTOMERS = 1_500_000
_SUPPLIERS = 100_000
_PARTS = 2_000_000
_NATIONS = 25

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["LARGE", "STANDARD", "SMALL", "PROMO", "MEDIUM", "ECONOMY"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "dark", "pale"]
_NOUN = ["ring", "bolt", "plate", "wheel", "cog"]


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols)


def _pick(vocab: list[str], h: F.Column) -> F.Column:
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.element_at(arr, (F.pmod(h, F.lit(len(vocab))) + 1).cast("int"))


def _orders(spark: SparkSession) -> DataFrame:
    df = spark.range(_ORDERS).withColumn("h", _h("id", F.lit("o")))
    status_h = F.pmod(_h("id", F.lit("st")), F.lit(100))
    return df.select(
        (F.col("id") + 1).alias("o_orderkey"),
        (F.pmod(_h("id", F.lit("c")), F.lit(_CUSTOMERS)) + 1).alias("o_custkey"),
        F.when(status_h < 49, "O").when(status_h < 73, "F").otherwise("P").alias("o_orderstatus"),
        F.round(1000.0 + F.pmod(F.col("h"), F.lit(45_000_000)) / F.lit(100.0), 2).alias(
            "o_totalprice"
        ),
        F.date_add(F.lit("1995-01-01").cast("date"), F.pmod(F.col("h"), F.lit(2404)).cast("int"))
        .cast("timestamp")
        .alias("o_orderdate"),
        _pick(_PRIORITIES, _h("id", F.lit("p"))).alias("o_orderpriority"),
    )


def _lineitem(spark: SparkSession) -> DataFrame:
    # 1..7 lines per order (avg 4 -> ~60M rows); every per-line column is
    # hash-derived from (orderkey, linenumber)
    base = spark.range(_ORDERS).select(
        (F.col("id") + 1).alias("l_orderkey"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            F.pmod(_h("id", F.lit("o")), F.lit(2404)).cast("int"),
        ).alias("odate"),
        F.explode(
            F.sequence(F.lit(1), (F.pmod(_h("id", F.lit("n")), F.lit(7)) + 1).cast("int"))
        ).alias("l_linenumber"),
    )

    def line_h(salt: str) -> F.Column:
        return _h("l_orderkey", "l_linenumber", F.lit(salt))

    qty = (F.pmod(line_h("q"), F.lit(50)) + 1).cast("double")
    return base.select(
        "l_orderkey",
        (F.pmod(_h("l_orderkey", "l_linenumber"), F.lit(_PARTS)) + 1).alias("l_partkey"),
        (F.pmod(line_h("s"), F.lit(_SUPPLIERS)) + 1).alias("l_suppkey"),
        F.col("l_linenumber").cast("int"),
        qty.alias("l_quantity"),
        F.round(qty * (900.0 + F.pmod(line_h("e"), F.lit(10_000)) / F.lit(100.0)), 2).alias(
            "l_extendedprice"
        ),
        (F.pmod(line_h("d"), F.lit(11)) / F.lit(100.0)).alias("l_discount"),
        (F.pmod(line_h("t"), F.lit(9)) / F.lit(100.0)).alias("l_tax"),
        _pick(["A", "N", "R"], line_h("r")).alias("l_returnflag"),
        _pick(["F", "O"], line_h("l")).alias("l_linestatus"),
        F.date_add(F.col("odate"), (F.pmod(line_h("sd"), F.lit(122)) + 1).cast("int"))
        .cast("timestamp")
        .alias("l_shipdate"),
    )


def _customer(spark: SparkSession) -> DataFrame:
    return spark.range(_CUSTOMERS).select(
        (F.col("id") + 1).alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id") + 1).alias("c_name"),
        F.pmod(_h("id", F.lit("n")), F.lit(_NATIONS)).cast("int").alias("c_nationkey"),
        F.round((F.pmod(_h("id", F.lit("b")), F.lit(1_100_000)) - 100_000) / F.lit(100.0), 2).alias(
            "c_acctbal"
        ),
        _pick(_SEGMENTS, _h("id", F.lit("m"))).alias("c_mktsegment"),
    )


def _supplier(spark: SparkSession) -> DataFrame:
    return spark.range(_SUPPLIERS).select(
        (F.col("id") + 1).alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id") + 1).alias("s_name"),
        F.pmod(_h("id", F.lit("n")), F.lit(_NATIONS)).cast("int").alias("s_nationkey"),
        F.round((F.pmod(_h("id", F.lit("b")), F.lit(1_100_000)) - 100_000) / F.lit(100.0), 2).alias(
            "s_acctbal"
        ),
    )


def _part(spark: SparkSession) -> DataFrame:
    return spark.range(_PARTS).select(
        (F.col("id") + 1).alias("p_partkey"),
        F.concat_ws(" ", _pick(_ADJ, _h("id", F.lit("a"))), _pick(_NOUN, _h("id", F.lit("w")))).alias(
            "p_name"
        ),
        F.concat(F.lit("Brand#"), (F.pmod(_h("id", F.lit("b")), F.lit(25)) + 1)).alias("p_brand"),
        _pick(_TYPES, _h("id", F.lit("t"))).alias("p_type"),
        (F.pmod(_h("id", F.lit("s")), F.lit(50)) + 1).cast("int").alias("p_size"),
        F.round(900.0 + F.pmod(_h("id", F.lit("r")), F.lit(110_000)) / F.lit(100.0), 2).alias(
            "p_retailprice"
        ),
    )


def part_100x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER-shaped parts: each fixture part x 100, a 4-letter family tag at
    the front (so each family's PassJoin segment keys are its own) and a
    trailing member digit."""
    part = load_table(spark, sf_dir, "part")
    rep = F.explode(F.sequence(F.lit(0), F.lit(99))).alias("rep")
    fam = (F.col("rep") / 5).cast("int")
    mem = F.col("rep") % 5
    tag = F.concat_ws("", *[F.chr((F.lit(97) + F.pmod(fam, F.lit(20))).cast("long"))] * 4)
    name = F.concat(
        tag, F.lit(" "), F.col("p_name"), F.when(mem > 0, mem.cast("string")).otherwise(F.lit(""))
    )
    return part.select("*", rep).select(
        (F.col("p_partkey") + F.col("rep") * 10_000_000).alias("p_partkey"),
        name.alias("p_name"),
        "p_brand", "p_type", "p_size", "p_retailprice",
    )


# table -> (path, generator); the generated file set is reused while its
# _SUCCESS marker exists
CORPORA: dict[str, tuple[str, Callable[[SparkSession], DataFrame]]] = {
    "events": (f"{STRESS_ROOT}/ev.parquet", _events),
    "embeddings": (f"{STRESS_ROOT}/emb500k.parquet", _embeddings),
    "documents": (f"{STRESS_ROOT}/docs500k_ml.parquet", _documents),
    "orders": (f"{STRESS_ROOT}/tpch/orders.parquet", _orders),
    "lineitem": (f"{STRESS_ROOT}/tpch/lineitem.parquet", _lineitem),
    "customer": (f"{STRESS_ROOT}/tpch/customer.parquet", _customer),
    "supplier": (f"{STRESS_ROOT}/tpch/supplier.parquet", _supplier),
    "part": (f"{STRESS_ROOT}/tpch/part.parquet", _part),
}

# (module, table) -> reader that replaces the corpus for that module only
MODULE_TABLES: dict[tuple[str, str], Callable[[SparkSession, str], DataFrame]] = {
    ("merl_etl_spark.operators.linkage", "part"): part_100x,
}


# ---------------------------------------------------------------------------
# the router
# ---------------------------------------------------------------------------


class Router:
    """``load_table`` for one module: corpus tables from ``CORPORA`` (or
    the module's ``MODULE_TABLES`` entry), every other table from the
    fixture.  Each read is appended to ``reads``."""

    def __init__(self, module: str, reads: list[str]):
        self.module = module
        self.reads = reads

    def __call__(self, spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
        self.reads.append(name)
        special = MODULE_TABLES.get((self.module, name))
        if special is not None:
            return special(spark, sf_dir)
        if name not in CORPORA:
            return load_table(spark, sf_dir, name)
        path, generate = CORPORA[name]
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            print(f"generating {path} ...", flush=True)
            generate(spark).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        if name == "events":
            # the generator writes TIMESTAMP_NTZ; load_table hands every
            # reader TIMESTAMP (unix_micros rejects ntz)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df


@contextmanager
def routed():
    """Bind a ``Router`` in every loaded ``merl_etl_spark`` module that
    still holds the original ``load_table``; restore them on exit.
    Yields the list the routers append each table read to."""
    bound = [
        mod
        for name, mod in list(sys.modules.items())
        if name.split(".")[0] == "merl_etl_spark" and getattr(mod, "load_table", None) is load_table
    ]
    reads: list[str] = []
    for mod in bound:
        mod.load_table = Router(mod.__name__, reads)
    try:
        yield reads
    finally:
        for mod in bound:
            mod.load_table = load_table


def check_routed(query: str) -> None:
    """Raise unless the query's defining module reads through a router —
    otherwise it would read fixture-scale data under a 100x label."""
    module = QUERIES[query].__module__
    if not isinstance(getattr(sys.modules[module], "load_table", None), Router):
        raise AssertionError(
            f"{query}: {module} does not read through the stress router; "
            "it would read fixture-scale data under a 100x label"
        )


# ---------------------------------------------------------------------------
# driving
# ---------------------------------------------------------------------------


def _forced(df: DataFrame):
    return df.agg(
        F.sum(F.xxhash64(F.struct(*df.columns))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]


def ring_census(spark: SparkSession) -> tuple[int, int]:
    """Label propagation on 200k rings of 10 nodes (2M nodes, 4M directed
    edges, 10 rounds); asserts the census and returns (rows, hash)."""
    from merl_etl_spark.operators.graph import min_label_propagation

    n_rings, ring = 200_000, 10
    base = spark.range(n_rings * ring).select(
        F.col("id").alias("src"),
        ((F.col("id") - F.col("id") % ring) + (F.col("id") + 1) % ring).alias("dst"),
    )
    edges = base.unionByName(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    last, second_last = min_label_propagation(edges, 10)
    census = last.groupBy("lbl").agg(F.count(F.lit(1)).alias("n_nodes"))
    row = census.agg(
        F.count(F.lit(1)).alias("n_comp"),
        F.sum(F.xxhash64(F.struct("lbl", "n_nodes"))).alias("h"),
        F.min("n_nodes").alias("lo"),
        F.max("n_nodes").alias("hi"),
    ).collect()[0]
    changed = (
        last.withColumnRenamed("lbl", "a")
        .join(second_last.withColumnRenamed("lbl", "b"), "node")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    if not (row["n_comp"] == n_rings and row["lo"] == row["hi"] == ring and changed == 0):
        raise AssertionError(f"ring census {row} with {changed} labels changed in the last round")
    return row["n_comp"], row["h"]


def drive(spark: SparkSession, query: str, reads: list[str]) -> dict:
    """Run one query (or the ring census) hash-forced; ``reads`` is the
    list ``routed()`` yielded."""
    t0 = time.perf_counter()
    reads.clear()
    if query == RING_CENSUS:
        rows, h = ring_census(spark)
    else:
        check_routed(query)
        confs = QUERY_CONFS.get(query, {})
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            spark.sparkContext.setJobDescription(f"stress: {query}")
            row = _forced(QUERIES[query](spark, DEFAULT_SF_DIR))
            rows, h = row["n"], row["h"]
        finally:
            for k in confs:
                spark.conf.unset(k)
    tables = sorted(set(reads))
    sec = round(time.perf_counter() - t0, 1)
    print(f"{query} [{','.join(tables)}]: rows={rows} hash={h} cold={sec}s", flush=True)
    return {"tables": tables, "rows": rows, "hash": h, "sec": sec}


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "run"
    queries = sys.argv[2].split(",") if len(sys.argv) > 2 else DEFAULT_QUERIES
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("stress", cpus=cpus)
    load_all()
    spark.sparkContext.setCheckpointDir(f"{STRESS_ROOT}/ckpt")
    results = {}
    try:
        with routed() as reads:
            for query in queries:
                results[query] = drive(spark, query, reads)
    finally:
        # reliable checkpoints of large graphs are multi-GB
        shutil.rmtree(f"{STRESS_ROOT}/ckpt", ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, f"{tag}.json")
    with open(out, "w") as fh:
        json.dump({"cpus": cpus, "queries": results}, fh, indent=1, sort_keys=True)
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
