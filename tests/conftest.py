import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from trident_spark.session import get_spark

    s = get_spark(app_name="trident-spark-tests", shuffle_partitions=4)
    yield s
    s.stop()

