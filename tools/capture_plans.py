"""Capture ``explain("formatted")`` for named queries into text files.

Usage: python tools/capture_plans.py <outdir> <suffix> <query> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` — the before/after plan evidence
the optimization rounds commit under ``plans/r12/``. The text is masked
(``mask_plan``) before it is written, so two checkouts' dumps taken with
the same suffix compare with a plain ``diff -r``.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

# the checkout this file sits in, whatever the working directory
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from queue_system_simulator_spark.plans import QUERIES  # noqa: E402
from queue_system_simulator_spark.session import get_spark  # noqa: E402


# Process-wide counters that move with whatever ran earlier in the session:
# expression ids, plan ids, RDD ids and fresh lambda-variable names.
_COUNTERS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
)


def mask_plan(text: str) -> str:
    """``text`` with every process-wide counter replaced by ``N``."""
    for pattern, repl in _COUNTERS:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(
        "capture_plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    for name in names:
        df = QUERIES[name].build(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(mask_plan(plan))
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
