import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from gpiv_spark.session import get_spark

    # cpus from SPARK_GRAFT_CPUS, else the cores this process may use
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()
