"""Session factory defaults."""

import os


def test_driver_memory_fits_the_host(spark):
    # a driver heap larger than the host lets the JVM grow until the
    # kernel kills it instead of collecting
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    value = spark.sparkContext.getConf().get("spark.driver.memory").lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if value[-1] in units:
        size = int(value[:-1]) * units[value[-1]]
    else:
        size = int(value) << 20      # a bare number is MiB
    assert size <= phys, value
