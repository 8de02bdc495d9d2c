"""The session factory's defaults, checked without starting a JVM."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path


def test_default_cpus_follow_the_machine_when_unset():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "import os; from queue_system_simulator_spark import session; "
         "print(session.DEFAULT_CPUS, os.cpu_count())"],
        cwd=str(Path(__file__).resolve().parent.parent),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split()
    assert out[0] == out[1], out
