from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyld_spark.session import get_spark

    s = get_spark("pyld_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def odd_convs(spark):
    """Two tagged conversations the in-row canonical labels cannot serve:
    ``a-dup`` repeats a turn (same ``turn_idx`` twice, so the same turn
    ``@id``) and ``zz-anon`` has two turns with a null ``turn_idx`` (no
    ``@id``). Their ids sort first and last among ``conv-*`` ids."""
    import datetime

    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("a-dup", 0, "user", "a", None, ts0),
        ("a-dup", 1, "user", "b", None, ts0),
        ("a-dup", 1, "user", "b", None, ts0),
        ("a-dup", 2, "user", "x", None, ts0),
        ("a-dup", 2, "tool", "y", "search", ts0),
        ("zz-anon", None, "user", "p", None, ts0),
        ("zz-anon", 0, "assistant", "q", None, ts0),
        ("zz-anon", None, "tool", "r", "python", ts0),
        ("zz-anon", 1, "user", "s", None, ts0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
