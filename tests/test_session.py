"""Session defaults: the driver heap is sized from the host's RAM."""

from pygridmap_spark import session

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_capped():
    assert session.default_driver_memory(15 * GIB) == "7g"
    assert session.default_driver_memory(64 * GIB) == "24g"
    assert session.default_driver_memory(512 * GIB) == "24g"
    assert session.default_driver_memory(1 * GIB) == "1g"


def test_default_driver_memory_reads_this_host():
    host = session.default_driver_memory()
    assert host.endswith("g") and 1 <= int(host[:-1]) <= 24
