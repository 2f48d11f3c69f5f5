import os

import pytest

from kgce.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # The suite's inputs are small, but under the library's 48g default
    # heap G1 grows the driver JVM lazily: one full run on a 4-vCPU, 15 GB
    # host reached 15.2 GB RSS and was OOM-killed, failing every later
    # test.  8g bounds it; an explicit KGCE_DRIVER_MEM still wins.
    os.environ.setdefault("KGCE_DRIVER_MEM", "8g")
    s = get_spark("kgce-tests", cores=4, shuffle_partitions=8)
    yield s
