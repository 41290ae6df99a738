import os
import sys

import pytest

from batch_processing_on_aws_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def scaled_x3():
    """The content-disjoint 3x clone of sf0.1 (gitignored), built by
    tools/gen_scale.py on first use."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from gen_scale import ensure

    return ensure(os.path.join(REPO, "scaledata", "x3"), 3, "/root/testdata/sf0.1")
