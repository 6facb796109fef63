import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from detectingscc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="detectingscc-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    yield s


# GTgraph fixtures with the shapes of the reference's samples (SURVEY.md §5),
# written by tests/data/make_samples.py
FIXTURE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# The reference's own files, for the few tests whose expected values belong
# to those bytes alone; they skip where the reference is absent.
REF_DATA = "/root/reference/data"


def no_range_finish(monkeypatch):
    """Both SCC range-finish caps 0: no range qualifies, so every round of
    the FB engine runs decomposition, trims, pivots and BFS."""
    from detectingscc_spark.operators import scc

    monkeypatch.setattr(scc, "FINISH_MAX_EDGES", 0)
    monkeypatch.setattr(scc, "FINISH_MAX_VERTS", 0)
