from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scheduler_spark.session import get_spark  # noqa: E402

# get_spark's default driver heap (20g) can exceed the machine's RAM, and
# the kernel then kills the test run; default to half of physical memory.
os.environ.setdefault(
    "SPARK_GRAFT_DRIVER_MEM",
    f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2 // 2**20}m",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="scheduler_spark_tests", parallelism=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
