import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light


@pytest.fixture(scope="session")
def spark():
    from pygr_spark.session import get_spark

    s = get_spark("pygr_spark_tests", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def tiny_bound(spark):
    """Sets the broadcast-side byte bound to 1 byte, so every size
    probe finds its side "too big" and takes the keyed form."""
    key = "spark.pygr.broadcastSide.maxBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    yield spark
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)
