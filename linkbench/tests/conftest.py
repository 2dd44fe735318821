from __future__ import annotations

import pytest

from trianglecount_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="linkbench-tests", cores=2, shuffle_partitions=2, driver_memory="1g")
