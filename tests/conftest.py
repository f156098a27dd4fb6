import pytest

from blink_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blink-tests", master="local[4]")
    yield s
