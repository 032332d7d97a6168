#!/usr/bin/env python
"""Capture .explain("formatted") for every bench headline query.

Writes plans/explain/<query>_<tag>.txt for each query plus a
one-line-per-query plan-shape summary, plans/explain/_summary_<tag>.tsv
(exchanges / sorts / join strategies / python-eval nodes / window nodes),
so the expensive plan shapes can be ranked mechanically.

Usage:
    python tools/explain.py before            # all headline queries
    python tools/explain.py after q1,q2,...   # only the named queries
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from merl_etl_spark import registry  # noqa: E402
from merl_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "explain")

PATTERNS = {
    "exchange": re.compile(r"^\s*[+:*-]*\s*\(?\d*\)?\s*Exchange", re.M),
    "sort": re.compile(r"\bSort \[", re.M),
    "smj": re.compile(r"SortMergeJoin", re.M),
    "bhj": re.compile(r"BroadcastHashJoin", re.M),
    "shj": re.compile(r"ShuffledHashJoin", re.M),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin", re.M),
    "cartesian": re.compile(r"CartesianProduct", re.M),
    "window": re.compile(r"\bWindow\b", re.M),
    "wingrouplimit": re.compile(r"WindowGroupLimit", re.M),
    "pyeval": re.compile(r"BatchEvalPython|ArrowEvalPython", re.M),
    "mapinpandas": re.compile(r"MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas", re.M),
    "scanrows": re.compile(r"Scan ", re.M),
    "aqe": re.compile(r"AdaptiveSparkPlan", re.M),
}


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    registry.load_all()
    import bench

    names = [q for q in bench.HEADLINE if only is None or q in only]
    # also allow non-headline registered queries when named explicitly
    if only:
        names += [q for q in sorted(only) if q not in set(bench.HEADLINE)]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("merl_etl_spark_explain")
    rows = []
    for name in names:
        try:
            df = registry.QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record and continue
            plan = f"ERROR building plan: {exc!r}"
        with open(os.path.join(OUT_DIR, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        counts = {k: len(p.findall(plan)) for k, p in PATTERNS.items()}
        rows.append((name, counts))
        print(
            f"{name}\t"
            + "\t".join(f"{k}={v}" for k, v in counts.items() if v),
            flush=True,
        )
    # ranked summary: most exchanges first
    with open(os.path.join(OUT_DIR, f"_summary_{tag}.tsv"), "w") as fh:
        fh.write("query\t" + "\t".join(PATTERNS) + "\n")
        for name, counts in sorted(rows, key=lambda r: -r[1]["exchange"]):
            fh.write(name + "\t" + "\t".join(str(counts[k]) for k in PATTERNS) + "\n")


if __name__ == "__main__":
    main()
