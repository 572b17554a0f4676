"""Session bootstrap: defaults that must fit the host they run on."""


def test_default_driver_heap_fits_host():
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap asks for at most
    the machine's RAM (half of MemTotal, capped at 32 GiB)."""
    from datamancer_spark.session import _default_driver_mem_bytes

    with open("/proc/meminfo") as f:
        total = next(
            int(line.split()[1]) * 1024
            for line in f
            if line.startswith("MemTotal:")
        )
    got = _default_driver_mem_bytes()
    assert 0 < got <= total
    assert got <= 32 << 30
