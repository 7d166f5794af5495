import pytest

from pywdcollections_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # fixtures hold at most a few thousand pages: a 2g driver heap (the
    # value perfbench runs with) instead of the session's 8g default
    s = get_spark("pywdcollections-tests", cores=4, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "2g"})
    yield s
