from __future__ import annotations

import os

import pytest

from logdata_anomaly_miner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    s = get_spark(app_name="lams-tests", master="local[4]", shuffle_partitions=4)
    yield s
