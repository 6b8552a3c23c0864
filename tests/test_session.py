"""Session factory: resource defaults derived from the host."""

import os

from laion_spark.session import default_driver_mem


def _mem_total_bytes() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def test_default_driver_heap_fits_host():
    """The heap is pinned (-Xms == -Xmx): a default larger than the
    host's memory stops the JVM from starting at all."""
    mem = default_driver_mem()
    assert mem.endswith("m") and mem[:-1].isdigit(), mem
    heap = int(mem[:-1]) << 20
    assert 0 < heap <= _mem_total_bytes()
    assert heap <= 16 << 30
