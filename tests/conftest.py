from __future__ import annotations

import os

import pytest

from yadf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[$SPARK_GRAFT_CPUS], the host's core count where the caller
    # exports it; without it 12 cores = 24 runnable threads (JVM tasks +
    # Python workers) on a 32-vCPU host — parallel enough to move the
    # suite, with headroom so host steal does not serialize saturated
    # stages
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "12"))
    s = get_spark(app_name="yadf-spark-tests", cores=cores, driver_memory="8g")
    yield s
    s.stop()
