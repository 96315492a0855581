import os

import pytest

from streaming_demos_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Gitignored scratch area of this checkout, used by tests that need
# writable checkpoints / model-store dirs; recreated here because it is
# wiped between runs.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
os.makedirs(SCRATCH, exist_ok=True)


@pytest.fixture(scope="session")
def scratch_dir():
    return SCRATCH


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
