import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from robokop_build_spark.datagen.fixtures import ensure_fixtures  # noqa: E402
from robokop_build_spark.session import get_spark  # noqa: E402

TEST_SF = 0.003  # 3,000 docs — big enough for every edge case, fast enough for -x -q


@pytest.fixture(scope="session")
def spark():
    # master from get_spark: local[$SPARK_GRAFT_CPUS], else local[*]
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures") / "sf"
    return ensure_fixtures(str(d), TEST_SF)


@pytest.fixture(scope="session")
def golden(fixture_dir):
    from robokop_build_spark.datagen.oracle import compute_golden

    nodes, triples = compute_golden(fixture_dir)
    return {"nodes": nodes, "triples": triples}
