"""Session defaults that need no JVM to check."""

from iceberg_geospatial_api_server_spark.session import default_driver_memory

GIB_KB = 1024 * 1024


def test_default_driver_memory_is_a_quarter_of_the_host_clamped():
    assert default_driver_memory(16 * GIB_KB) == "4g"
    assert default_driver_memory(16479424) == "3g"  # a "16 GB" VM
    assert default_driver_memory(2 * GIB_KB) == "1g"
    assert default_driver_memory(512 * 1024) == "1g"
    assert default_driver_memory(256 * GIB_KB) == "32g"
    assert default_driver_memory(1024 * GIB_KB) == "32g"


def test_default_driver_memory_reads_the_host():
    got = int(default_driver_memory()[:-1])
    assert 1 <= got <= 32
