import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imtag_spark.operators import driver  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="imtag_spark_tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture
def funnel_gate(monkeypatch):
    """``funnel_gate(rows)`` sets the driver routes' row gate,
    ``driver.FUNNEL_EDGE_LIMIT``, until the test ends: a table of at most
    ``rows`` rows takes a driver route. ``funnel_gate(0)`` sends every
    non-empty table to the Spark loops, ``funnel_gate(-1)`` an empty one
    too. Tests set the gate only here, on the one name every module reads
    at call time."""

    def set_gate(rows: int) -> None:
        monkeypatch.setattr(driver, "FUNNEL_EDGE_LIMIT", rows)

    return set_gate
