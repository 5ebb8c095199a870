"""Every registered query must run on a VANILLA SparkSession (ANSI on,
no custom SQL confs) — the environment the driver's harness uses.

Runs tools/vanilla_sweep.py in a subprocess because Spark sessions are
JVM singletons: the tuned test session (conftest) would otherwise leak
its confs into this check.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_all_queries_run_on_vanilla_session():
    # The sweep's JVM runs beside the suite's own (up to ~8 GB resident
    # by now): the 16g default heap let the pair outgrow a 15 GB host and
    # the kernel OOM-killed one of them. The sf0.001 sweep peaks at ~5 GB
    # resident under a 4g heap.
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "vanilla_sweep.py")],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "4g"},
    )
    assert proc.returncode == 0, (
        f"vanilla-session sweep failed:\n{proc.stdout[-4000:]}\n{proc.stderr[-4000:]}"
    )
