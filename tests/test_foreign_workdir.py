"""The engine runs from any working directory: Python workers must import
the package even when the driver was started outside the repository.

Workers inherit the JVM's environment, not the driver's ``sys.path``, so
``session.get_spark`` puts the package root on ``PYTHONPATH`` before the
JVM starts. One subprocess (its own JVM, started in a temp directory with
no ``PYTHONPATH``) runs a UDF that imports the package on the worker."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from iceberg_examples_spark.session import get_spark

def plus_one(x):
    import iceberg_examples_spark  # resolved by the Python worker
    return x + 1

spark = get_spark(app_name="foreign-workdir", master="local[1]")
print("ROWS", sorted(r[0] for r in spark.range(3).select(F.udf(plus_one, "long")("id")).collect()))
"""


def test_udf_query_from_foreign_working_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS [1, 2, 3]" in proc.stdout, proc.stderr[-3000:]
