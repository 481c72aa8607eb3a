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


#: Bounds that force a size switch (tuning.small_path) one way.
SMALL = 1 << 62  # every measured size fits: the small path
LARGE = 0  # the "never" sentinel: the large path


@pytest.fixture()
def switch_bound(spark):
    """``switch_bound(switch, bound)`` sets conf
    ``spark.pygr.smallPath.<switch>`` for the test and restores it at
    teardown. Pass SMALL (1 << 62) or LARGE (0) to force one path."""
    saved = {}

    def set_bound(switch, bound):
        key = f"spark.pygr.smallPath.{switch}"
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(bound))

    yield set_bound
    for key, old in saved.items():
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
