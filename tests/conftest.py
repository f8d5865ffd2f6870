import os
import sys

import pytest

# this checkout's engine and tools, whichever directory it sits in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "tools"))

from deja_view_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="deja-view-spark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
