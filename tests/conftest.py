from contextlib import contextmanager

import pytest

from ontoemma_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ontoemma-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def broadcast_off(spark):
    """Context manager that sets spark.sql.autoBroadcastJoinThreshold=-1
    and restores the old value on exit. Inside it nothing fits on the
    driver (session.driver_row_cap), so every size-gated kernel takes its
    distributed plan and Catalyst plans no broadcast join."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def off():
        prev = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return off
