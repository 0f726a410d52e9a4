import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))


def pytest_configure(config):
    # A floating-point RuntimeWarning raised in package code fails the test.
    config.addinivalue_line("filterwarnings",
                            "error::RuntimeWarning:sen2rts_spark")


@pytest.fixture(scope="session")
def spark():
    from sen2rts_spark.session import get_spark
    s = get_spark("sen2rts-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
