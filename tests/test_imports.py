"""Every package module imports in a fresh interpreter with no
SparkSession: tools and scripts import helpers before they build one."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

IMPORT_ALL = """
import importlib, pkgutil
import kaylee_spark
from pyspark.sql import SparkSession
for m in pkgutil.walk_packages(kaylee_spark.__path__, "kaylee_spark."):
    if not m.name.endswith("__main__"):
        importlib.import_module(m.name)
assert SparkSession.getActiveSession() is None
print("imported")
"""


def test_every_module_imports_without_a_session():
    env = dict(os.environ, PYTHONPATH=REPO)
    done = subprocess.run(
        [sys.executable, "-c", IMPORT_ALL], cwd=REPO, env=env, capture_output=True, text=True, timeout=120
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.strip() == "imported"
