"""Session factory defaults that need no Spark."""

from __future__ import annotations

import os

from lsh_cascade_poc_spark.session import default_driver_memory


def test_default_driver_memory_fits_the_host():
    """The default driver heap is 48g or half the host's physical memory,
    whichever is smaller: never more than the host holds, since the
    session's G1 settings never give heap back."""
    value = default_driver_memory()
    assert value.endswith("m")
    mb = int(value[:-1])
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < mb <= min(48 * 1024, phys_mb // 2) < phys_mb
