"""Tests of the benchmark's output checks.

    python3 perfbench/test_checks.py

Builds the benchmark (perfbench/build.py) and runs perfbench.CheckTests,
which feeds each check a correct output and corrupted copies of it (a
dropped key, a stale clock, an extra or missing pair, a split cluster, a
missing or duplicated hit) and requires the check to pass only the first.
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

classes = build.ensure_built()
cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
sys.exit(subprocess.run(["java", "-cp", cp, "perfbench.CheckTests"]).returncode)
