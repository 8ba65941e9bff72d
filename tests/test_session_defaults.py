"""session.driver_memory: the default driver heap follows the host."""

from __future__ import annotations

import pytest

from swiftbulkuploader_spark.session import driver_memory

GIB = 2**30


@pytest.mark.parametrize("mem_total, heap", [
    (16479424 * 1024, "7g"),    # MemTotal of a 15.7 GiB host: half, rounded down
    (16 * GIB, "8g"),
    (47 * GIB, "23g"),
    (128 * GIB, "24g"),         # capped
    (1 * GIB, "1g"),            # never below 1g
])
def test_half_of_host_memory_in_whole_gib_capped_at_24g(mem_total, heap):
    assert driver_memory(mem_total) == heap
