"""Session defaults."""

import os
import subprocess
import sys

from iceberg_geospatial_api_server_spark.session import default_driver_memory

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"

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


def test_get_spark_turns_dataframe_debugging_off(spark):
    """The session factory's session records no Python call sites."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(_DEBUGGING) == "false"
    assert is_debugging_enabled() is False


def test_extra_confs_turn_dataframe_debugging_back_on():
    """The conf is static, so a new session (here in a child process)
    shows that `extra_confs` can turn debugging back on."""
    code = (
        "from iceberg_geospatial_api_server_spark.session import get_spark\n"
        f"s = get_spark(master='local[1]', extra_confs={{{_DEBUGGING!r}: 'true'}})\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "print('debugging', is_debugging_enabled())\n"
        "s.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert "debugging True" in out.stdout.splitlines(), out.stderr[-2000:]
