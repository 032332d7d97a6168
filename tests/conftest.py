import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from merl_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("merl_etl_spark_tests", cpus="8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def query_census(spark, sf_dir):
    """Every registered query's frame and executed physical plan, built
    once for the registry-wide sweeps (tests/test_plan_properties.py,
    tests/test_no_decimal_surfaces.py): name -> (DataFrame, SparkPlan)."""
    from merl_etl_spark.registry import QUERIES, load_all

    load_all()
    census = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        census[name] = (df, df._jdf.queryExecution().executedPlan())
    return census
