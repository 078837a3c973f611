import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from sparvi_spark.session import get_spark

    s = get_spark("sparvi_tests", shuffle_partitions=8)
    yield s


@contextmanager
def scale_mode_ctx(on: bool):
    """Temporarily set the engine-wide scale mode; restores the prior
    value."""
    from sparvi_spark.config import scale_mode, set_scale_mode

    prev = scale_mode()
    set_scale_mode(on)
    try:
        yield
    finally:
        set_scale_mode(prev)
