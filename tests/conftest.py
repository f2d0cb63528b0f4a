import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from thundercats_spark.session import get_spark

    s = get_spark("thundercats-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def query_df(spark, sf_dir):
    """``query_df(name)``: the DataFrame the registry query ``name``
    builds, built on first use and kept for the session. Plan-health
    explains it, ``test_query_runs`` collects it and the scalar-only
    gate reads its schema, so a query's build runs once for all three
    (``test_query_runs`` still builds a fresh second copy to check that
    a rebuild gives the same rows)."""
    from thundercats_spark.queries import all_queries

    queries = all_queries()
    built = {}

    def build(name):
        if name not in built:
            built[name] = queries[name].spark_fn(spark, sf_dir)
        return built[name]

    return build
