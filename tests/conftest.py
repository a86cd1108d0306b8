import os
from pathlib import Path

import pytest

from peregrine_spark.patterns.small_graph import SmallGraph
from peregrine_spark.session import get_spark

# checkout of the reference implementation (query files, citeseer dataset,
# committed truth files): the same PEREGRINE_REFERENCE override and default
# (beside this repository) as __spark_entry__.py. Tests that read it skip
# when it is absent.
REFERENCE = Path(
    os.environ.get("PEREGRINE_REFERENCE")
    or Path(__file__).resolve().parents[2] / "reference"
)
NO_REFERENCE = f"reference checkout not found at {REFERENCE} (set PEREGRINE_REFERENCE)"

# the reference's query/p1.graph verbatim (4-vertex diamond = K4 minus (2,4))
P1_DIAMOND = SmallGraph(edges=[(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)])


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # tables a test saves (graph/storage.py) go to a temporary warehouse,
    # not to spark-warehouse/ under the working directory
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        app_name="peregrine_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield s
    s.stop()


def edges_df(spark, pairs):
    """Canonical (src<dst) integer edge DataFrame from an iterable of pairs."""
    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    return spark.createDataFrame(canon, "src long, dst long")
