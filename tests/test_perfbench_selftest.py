"""The benchmark (perfbench/) imports program modules: registry.registry,
session.get_spark, cachepool.clear_pool and the tests/oracle_utils
helpers. This runs its fast, Spark-free self-tests and checks the names
it imports, so an edit that breaks the benchmark fails the suite."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_fast_selftest_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "selftest.py")],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr

    import perfbench.check  # noqa: F401  (imports the oracle_utils helpers)
    from x8313_etl_spark.operators.cachepool import clear_pool
    from x8313_etl_spark.session import get_spark

    assert {"forget_ledger", "blocking"} <= set(inspect.signature(clear_pool).parameters)
    assert "cpus" in inspect.signature(get_spark).parameters
