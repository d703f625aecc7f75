"""Locating the Java heap among a process's mappings."""

import pytest

from crawlbench.procmon import heap_range

GB = 2**30


def test_heap_is_the_adjacent_run_spanning_the_maximum_heap():
    vmas = [
        (0x1000, 0x2000, 4096),  # code
        (10 * GB, 15 * GB, 0),  # reserved, not committed
        (15 * GB, 16 * GB, 900 * 2**20),  # committed regions
        (16 * GB, 18 * GB, 0),
        (20 * GB, 20 * GB + 4096, 4096),  # a mapping after a gap
    ]
    assert heap_range(vmas, 8 * GB) == (10 * GB, 18 * GB)


def test_no_run_of_the_right_span_is_an_error():
    with pytest.raises(RuntimeError):
        heap_range([(0, GB, 0), (2 * GB, 3 * GB, 0)], 2 * GB)
