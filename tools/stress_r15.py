#!/usr/bin/env python
"""Round-15 stress: close the scale-evidence gap (VERDICT r14 #5).

The sf0.1 bench cannot demonstrate parallelism claims (its 8-vs-32-core
ratios are ~1 — the suite is scheduling-latency-bound at fixture scale),
so this harness times the round's claim-carrying queries at a GENUINE
100x and records a small JSON artifact per run:

* agg-weighted-median at 60M lineitem — the r14 §2.5 bucketed
  cumulative-sum claim (+ the r15 data-derived width);
* join-asof / join-asof-nearest / join-asof-keyed at 10M events — the
  r14 asof summary-cut claims;
* graph-triangles / graph-jaccard-links / graph-bfs-hops over the 60M-
  lineitem co-supply census — the r15 one-exchange census;
* graph-components at 15M orders / 60M lineitem;
* dq-primary-keys / dq-referential over the stress star + 10M events
  (documents/embeddings arms stay fixture-scale — labeled);
* link-fuzzy-match at 2M parts / 100x entities — the r15 PassJoin
  multi-match probe windows (golden-record leg lives in stress_er.py);
* text-textrank-keywords at 500k docs — r14 continuity pin.

Timings are hash-sum-forced (collect of a 1-row xxhash64 aggregate), so
every column of every row is computed.  The strict patched-load_table
guard from stress_r14 applies: a driven query whose defining module is
not patched FAILS instead of silently running at fixture scale.

    python tools/stress_r15.py [tag]     # tag names the JSON artifact,
                                         # default "after"
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from merl_etl_spark.registry import QUERIES, load_all  # noqa: E402
from merl_etl_spark.session import get_spark  # noqa: E402
from merl_etl_spark.sources.tables import load_table as orig_load  # noqa: E402
from tools.stress_er import part_100x  # noqa: E402
from tools.stress_r11 import STRESS_EV, ensure_events  # noqa: E402
from tools.stress_r11_wave15 import STRESS_DOCS, ensure_docs  # noqa: E402
from tools.stress_tpch import STRESS_TPCH, ensure_tpch  # noqa: E402

SF = "/root/testdata/sf0.1"
_TPCH = ("orders", "lineitem", "customer", "supplier", "part")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
)


def patched(spark_, sf_dir, name):
    if name in _TPCH:
        return spark_.read.parquet(f"{STRESS_TPCH}/{name}.parquet")
    if name == "documents":
        return spark_.read.parquet(STRESS_DOCS)
    if name == "events":
        ev = spark_.read.parquet(STRESS_EV)
        return ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return orig_load(spark_, sf_dir, name)


def patched_er(spark_, sf_dir, name):
    if name == "part":
        return part_100x(spark_, sf_dir)
    return orig_load(spark_, sf_dir, name)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "after"
    spark = get_spark("stress_r15", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_all()
    ensure_events(spark)
    ensure_docs(spark)
    ensure_tpch(spark)

    import merl_etl_spark.operators.aggregates as aggregates
    import merl_etl_spark.operators.asof as asof
    import merl_etl_spark.operators.graph as graph
    import merl_etl_spark.operators.linkage as linkage
    import merl_etl_spark.operators.quality as quality
    import merl_etl_spark.operators.text_analysis as text_analysis

    mods = (aggregates, asof, graph, quality, text_analysis)
    saved = [m.load_table for m in mods]
    saved_linkage = linkage.load_table
    for m in mods:
        m.load_table = patched
    linkage.load_table = patched_er

    results: dict[str, dict] = {}

    def drive(name: str, label: str) -> None:
        fn = QUERIES[name]
        mod = sys.modules[fn.__module__]
        lt = getattr(mod, "load_table", None)
        if lt is not patched and lt is not patched_er:
            raise AssertionError(
                f"{name}: defining module {fn.__module__} does not carry a "
                "patched load_table — it would read fixture-scale data "
                "under a 100x label."
            )
        spark.sparkContext.setJobDescription(f"stress_r15: {name}")
        t0 = time.perf_counter()
        df = fn(spark, SF)
        row = df.agg(
            F.sum(F.xxhash64(F.struct(*df.columns))).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        sec = round(time.perf_counter() - t0, 1)
        results[name] = {"label": label, "rows": row["n"], "hash": row["h"], "sec": sec}
        print(f"{label}: rows={row['n']} hash={row['h']} cold={sec}s", flush=True)

    try:
        drive("agg-weighted-median", "agg-weighted-median 60M lineitem")
        drive("join-asof", "join-asof 10M events")
        drive("join-asof-nearest", "join-asof-nearest 10M events")
        drive("join-asof-keyed", "join-asof-keyed 10M events")
        drive("graph-triangles", "graph-triangles 60M-li co-supply census")
        drive("graph-jaccard-links", "graph-jaccard-links 60M-li co-supply census")
        drive("graph-bfs-hops", "graph-bfs-hops 60M-li co-supply census")
        drive("graph-components", "graph-components 15M orders / 60M li")
        drive("dq-primary-keys",
              "dq-primary-keys stress star + 10M events (docs/emb fixture-scale)")
        drive("dq-referential",
              "dq-referential stress star + 10M events child arms")
        drive("link-fuzzy-match", "link-fuzzy-match 2M parts / 100x entities")
        drive("text-textrank-keywords", "text-textrank-keywords 500k docs")
    finally:
        for m, fn in zip(mods, saved):
            m.load_table = fn
        linkage.load_table = saved_linkage

    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, f"stress_r15_{tag}.json")
    with open(out, "w") as fh:
        json.dump(
            {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"), "queries": results},
            fh, indent=1, sort_keys=True,
        )
    print(f"wrote {out}", flush=True)


if __name__ == "__main__":
    main()
