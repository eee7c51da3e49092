import numpy as np
import pytest

from deeptime_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("deeptime-spark-tests")
    yield s


@pytest.fixture
def rng():
    return np.random.default_rng(42)
