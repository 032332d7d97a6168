"""Plan gate: dq-referential must scan each table once per FK relation
(VERDICT r14 #7, strengthened in r15).

The r14 form computed the child rollup once and fanned it into an
anti-join arm and a totals arm, assuming the duplicated subtrees would
bottom out at an identical exchange that exchange reuse dedups.  The
assumption was false: Catalyst pushes a left-anti join BELOW an
aggregate (PushDownLeftSemiAntiJoin) and the isnotnull filter into the
scan, so the arms diverged and every child table was scanned and
key-rolled TWICE per relation.  r15 rewrote the audit as one left join
+ conditional sums, and this gate pins the resulting invariant directly:
exactly ONE FileScan per table reference (child + parent per relation),
so a future edit that re-splits the audit into diverging arms fails
here instead of silently doubling the 100 TB fact scans.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from py4j.protocol import Py4JError

from merl_etl_spark.operators.quality import _FK_RELATIONS, dq_referential

# an explain line's tree drawing and whole-stage-codegen marker, e.g. "   :  +- *(2) "
_TREE_PREFIX = re.compile(r"^[\s:|+-]*(\*\(\d+\)\s*)?")


def _collect(node, out):
    out.append(node.nodeName())
    children = node.children()
    for i in range(children.size()):
        _collect(children.apply(i), out)


def _names_from_explain(df):
    """Node names parsed from ``df.explain()``, named as ``nodeName()``
    names them (the string form prints a file scan as ``FileScan``)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    _, found, tree = buf.getvalue().partition("== Physical Plan ==")
    names = []
    for line in tree.strip().splitlines():
        name = _TREE_PREFIX.sub("", line).split(" [", 1)[0].split("(", 1)[0].strip()
        names.append(re.sub(r"^FileScan ", "Scan ", name))
    if not found or not names:
        pytest.fail("no physical plan: initialPlan() is missing and df.explain() printed no plan tree")
    return names


def _plan_node_names(df):
    # executedPlan() is AdaptiveSparkPlanExec (childless until run) and
    # sparkPlan() predates EnsureRequirements (no exchanges inserted
    # yet); the AQE root's initialPlan is the prepared pre-execution
    # plan that carries the real scan/exchange nodes.  A Spark without
    # that accessor falls back to the same tree printed by explain().
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        try:
            plan = plan.initialPlan()
        except Py4JError:
            return _names_from_explain(df)
    names = []
    _collect(plan, names)
    return names


def _scans(names):
    return [n for n in names if n.startswith("Scan parquet")]


def test_one_scan_per_table_reference(spark, sf_dir):
    df = dq_referential(spark, sf_dir)
    scans = _scans(_plan_node_names(df))
    want = 2 * len(_FK_RELATIONS)  # one child + one parent per relation
    assert len(scans) == want, (
        f"expected {want} parquet scans (child + parent per FK relation), "
        f"found {len(scans)} — an audit arm has re-split and a table "
        "will be scanned more than once per relation"
    )


def test_explain_fallback_reads_the_same_scans(spark, sf_dir):
    df = dq_referential(spark, sf_dir)
    assert len(_scans(_names_from_explain(df))) == len(_scans(_plan_node_names(df)))


def test_no_nested_loop_join(spark, sf_dir):
    df = dq_referential(spark, sf_dir)
    bad = [
        n for n in _plan_node_names(df) if n in ("BroadcastNestedLoopJoin", "CartesianProduct")
    ]
    assert not bad, f"unexpected nested-loop joins: {bad}"
