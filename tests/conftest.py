from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from mapshaper_spark.session import get_spark

    s = get_spark("mapshaper_spark_tests", shuffle_partitions=8)
    yield s


SF_DIR = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"
