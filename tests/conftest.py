from __future__ import annotations

import pytest

from etlutil_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("etlutil-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def catalog_plans(spark, sf_dir) -> dict[str, str]:
    """Executed-plan string of every catalog query at ``sf_dir``, built
    once in ``sorted(QUERIES)`` order and shared by the catalog-wide plan
    guards (cartesian joins, row-at-a-time Python)."""
    from etlutil_spark.plans.inspect import formatted_plan
    from etlutil_spark.queries import QUERIES

    return {
        name: formatted_plan(fn(spark, sf_dir))
        for name, fn in sorted(QUERIES.items())
    }
