import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scikit_learn_imputer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sli-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


@pytest.fixture(scope="session")
def plan_of(spark, sf_smoke):
    """``plan_of(name)``: the physical plan text of registry query ``name``
    at sf_smoke, built once per session. A test that builds the query
    itself passes its frame, ``plan_of(name, df)``, so that a later test
    reading the plan does not build the query (and re-run its eager parts)
    again. Computing a plan runs no job."""
    from scikit_learn_imputer_spark.plans.queries import QUERIES

    plans: dict[str, str] = {}

    def get(name: str, df=None) -> str:
        if name not in plans:
            df = QUERIES[name](spark, sf_smoke) if df is None else df
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return plans[name]

    return get
