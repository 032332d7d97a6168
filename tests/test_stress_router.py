"""tools/stress.py reads every table through one router.

No corpus is generated: the queries stop at their first table read, and
the reads that do run see copies of the fixture tables.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

from merl_etl_spark.registry import QUERIES, load_all
from tools import stress


@pytest.fixture()
def fixture_corpora(monkeypatch, tmp_path, sf_dir):
    corpora = {}
    for table, (_, generate) in stress.CORPORA.items():
        path = tmp_path / f"{table}.parquet"
        path.mkdir()
        shutil.copy(os.path.join(sf_dir, f"{table}.parquet"), path / "part-0.parquet")
        (path / "_SUCCESS").touch()
        corpora[table] = (str(path), generate)
    monkeypatch.setattr(stress, "CORPORA", corpora)
    load_all()
    return corpora


def _holding_original() -> list[str]:
    return [
        name
        for name, mod in list(sys.modules.items())
        if name.split(".")[0] == "merl_etl_spark" and getattr(mod, "load_table", None) is stress.load_table
    ]


class _FirstRead(Exception):
    pass


def test_default_queries_read_through_the_router(spark, sf_dir, monkeypatch):
    def stop(router, spark, sf_dir, name):
        raise _FirstRead(router.module, name)

    load_all()
    with stress.routed():
        assert _holding_original() == []
        # stop each query at its first table read: building the graph
        # queries in full runs their eager lineage cuts
        monkeypatch.setattr(stress.Router, "__call__", stop)
        for query in stress.DEFAULT_QUERIES:
            stress.check_routed(query)
            with pytest.raises(_FirstRead):
                QUERIES[query](spark, sf_dir)
    assert "merl_etl_spark.operators.asof" in _holding_original()


def test_linkage_reads_er_shaped_parts(spark, sf_dir, fixture_corpora):
    fixture_parts = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).count()
    with stress.routed():
        linkage = sys.modules["merl_etl_spark.operators.linkage"]
        assert linkage.load_table(spark, sf_dir, "part").count() == 100 * fixture_parts
        analytics = sys.modules["merl_etl_spark.operators.analytics"]
        (read,) = analytics.load_table(spark, sf_dir, "part").inputFiles()
        assert read.endswith(f"{fixture_corpora['part'][0]}/part-0.parquet")


def test_module_left_on_the_original_load_table_raises(spark, fixture_corpora):
    with stress.routed() as reads:
        asof = sys.modules[QUERIES["join-asof"].__module__]
        asof.load_table = stress.load_table
        with pytest.raises(AssertionError, match="fixture-scale"):
            stress.drive(spark, "join-asof", reads)
