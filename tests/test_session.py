"""The session factory's defaults must fit the machine they run on."""

from swspark.session import default_driver_mem


def test_default_driver_mem_fits_physical_ram():
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 1024 <= total_kb
    assert int(mem[:-1]) <= 8192
