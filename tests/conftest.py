import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

# The suite runs ~4000 stages against one JVM whose codegen-class cache is
# deliberately large (session.py maxEntries=5000); the 250-column wide-
# profile test then generates a multi-MB projection source on top of that
# resident cache. 8g fits either alone but not both late in the suite —
# give the test JVM headroom — but at most 2/3 of physical RAM: a heap
# cap above the RAM lets the JVM grow until the kernel's OOM killer ends
# the whole run (on a 16 GB host the 16g cap reached 15.3 GB resident).
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
os.environ.setdefault("SPARK_DRIVER_MEMORY",
                      f"{min(16, max(4, _RAM_GB * 2 // 3))}g")

from flink_descriptive_stats_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
