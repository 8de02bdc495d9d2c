"""The scripts under ``tools/`` run against the checkout they sit in."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Imports every tools/*.py by file path (module level only: no main, no
# JVM), each with a fresh package import, and reports where the package
# resolved from after each one.
_PROBE = """
import importlib.util, json, pathlib, sys
base = list(sys.path)
found = {}
for path in sorted(pathlib.Path("tools").glob("*.py")):
    sys.path[:] = base
    for mod in [m for m in sys.modules
                if m.split(".")[0] == "queue_system_simulator_spark"]:
        del sys.modules[mod]
    spec = importlib.util.spec_from_file_location("tool_" + path.stem, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    import queue_system_simulator_spark
    found[path.name] = queue_system_simulator_spark.__file__
print(json.dumps(found))
"""


def test_every_tool_imports_the_package_from_its_own_checkout(tmp_path):
    for name in ("queue_system_simulator_spark", "tools"):
        shutil.copytree(
            ROOT / name, tmp_path / name,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr
    found = json.loads(run.stdout.splitlines()[-1])
    assert set(found) == {p.name for p in (ROOT / "tools").glob("*.py")}
    for tool, pkg_file in found.items():
        assert Path(pkg_file).resolve().is_relative_to(tmp_path.resolve()), (
            tool, pkg_file,
        )
