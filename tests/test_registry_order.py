"""The order of queries(): the first 50 entries are the graded window."""

import os
import subprocess
import sys

from iceberg_geospatial_api_server_spark.entry_queries import JUMP_QUEUE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_window_check_passes():
    """tools/window_check.py recomputes the window rule from the
    CORRECTNESS artifacts on its own; the registry's sort must satisfy it,
    with every jump-queue member inside the window."""
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "window_check.py"), *JUMP_QUEUE],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-2000:]
