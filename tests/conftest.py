from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sparkdedup.session import get_spark  # noqa: E402


def _driver_memory() -> str:
    """Half the host's physical memory, at most 16g: the session JVM and
    the second JVM ``test_submit`` starts through spark-submit must fit
    side by side (``get_spark``'s 16g default assumes a larger host)."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(1, min(16, phys_gb // 2))}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sparkdedup-tests", master="local[8]",
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": _driver_memory()})
    yield s
    s.stop()
