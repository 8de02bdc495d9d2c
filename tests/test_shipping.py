"""Package-defined UDFs must unpickle on workers for ANY driver cwd.

The driver harness builds its own SparkSession and may run from any
directory; sys.path edits on the driver do not reach Python workers, so
without `shipping.ensure_shipped` every applyInPandas/mapInPandas closure
defined in this package dies with ModuleNotFoundError on the worker.
The in-process test session runs from the checkout (where cwd inheritance
masks the bug), so this spawns a subprocess with cwd=/tmp.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
import queue_system_simulator_spark.plans  # populate registry
from queue_system_simulator_spark.plans.registry import QUERIES

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
n = QUERIES["kernel_fifo_k1"].build(spark, "/root/testdata/sf0.001").count()
assert n == 1000, n
print("SHIPPED_OK")
"""


def test_pandas_udf_queries_survive_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT,
         os.path.dirname(os.path.dirname(os.path.abspath(__file__)))],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        # full env (workers must resolve the same python w/ pandas); the
        # bug under test is cwd-dependence, so only cwd differs. Pin the
        # worker python explicitly so a PATH-different shell can't skew it.
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert "SHIPPED_OK" in proc.stdout, proc.stderr[-2000:]


_PIPELINE_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from queue_system_simulator_spark.pipeline import render_report, run_pipeline

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
lines = render_report(run_pipeline(spark, sys.argv[2], num_workers=2))
assert lines[:3] == ["total requests: 25",
                     "requests with pre-epoch timestamps: 0",
                     "processed: 25"], lines
print("PIPELINE_OK")
"""


def test_run_pipeline_survives_foreign_cwd():
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-c", _PIPELINE_SCRIPT, os.path.dirname(tests_dir),
         os.path.join(tests_dir, "data", "sample_requests.csv")],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable},
    )
    assert "PIPELINE_OK" in proc.stdout, proc.stderr[-2000:]
