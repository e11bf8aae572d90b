from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pompspark.session import build_spark

    # the session the benchmark runs, at test scale. Speculation stays
    # off: check_speculation_safe refuses the paced fetchers some tests
    # drive on a speculative session.
    s = build_spark(
        "local[4]", app_name="pompspark-tests", shuffle_partitions=8,
        speculation=False,
    )
    yield s
    s.stop()
