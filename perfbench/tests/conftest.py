import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from crawlspark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=8)
    yield s
    s.stop()
