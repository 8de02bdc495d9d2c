"""The scripts under ``tools/`` run against the checkout they sit in."""

from __future__ import annotations

import importlib.util
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


def test_mask_plan_masks_every_process_wide_counter():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", ROOT / "tools" / "capture_plans.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    raw = (
        "(3) Project\n"
        "Output [2]: [vec_id#103L, transform(embedding#104, lambdafunction("
        "cast(lambda x_23#107 as double), lambda x_23#107, false)) AS v#106]\n"
        "zip_with(qv#7, c#8, lambdafunction((lambda x_91#9 - lambda y_92#10)"
        ", lambda x_91#9, lambda y_92#10, false))\n"
        "(5) Scan ExistingRDD[id#1L]  MapPartitionsRDD[42] plan_id=357\n"
        "vec_id, tax_1, label\n"
    )
    assert mod.mask_plan(raw) == (
        "(3) Project\n"
        "Output [2]: [vec_id#NL, transform(embedding#N, lambdafunction("
        "cast(lambda x_N#N as double), lambda x_N#N, false)) AS v#N]\n"
        "zip_with(qv#N, c#N, lambdafunction((lambda x_N#N - lambda y_N#N)"
        ", lambda x_N#N, lambda y_N#N, false))\n"
        "(5) Scan ExistingRDD[id#NL]  MapPartitionsRDD[N] plan_id=N\n"
        "vec_id, tax_1, label\n"
    )
    # the two dumps of one plan taken at different counter values agree
    shifted = raw.replace("#10", "#910").replace("x_23", "x_723")
    assert mod.mask_plan(shifted) == mod.mask_plan(raw)
