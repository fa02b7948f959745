"""Process environment for the measured program.

Every run gets the same configuration whatever
the caller's shell holds: the ``SPARK_GRAFT_*`` overrides that
``x8313_etl_spark.session`` reads are recorded, removed and set to
fixed values; the repo root goes on ``PYTHONPATH`` before the JVM starts
(so Python workers can import the package from any working directory);
and every temporary or spill directory points inside the checkout.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything the benchmark writes at run time lives here (gitignored)
WORK = os.path.join(ROOT, ".bench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pinned_graft_env() -> dict[str, str]:
    """The session overrides every measured run uses (the repo defaults,
    with the core count made explicit)."""
    return {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST": "true",
        "SPARK_GRAFT_DRIVER_MEM": "8g",
    }


def pin(env: dict[str, str] | None = None) -> dict[str, str]:
    """Pin ``env`` (default ``os.environ``) in place; returns the
    ``SPARK_GRAFT_*`` values the caller had set, for the record."""
    env = os.environ if env is None else env
    found = {k: env.pop(k) for k in sorted(env) if k.startswith("SPARK_GRAFT_")}
    env.update(pinned_graft_env())
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p != ROOT]
    )
    # -XX:-UsePerfData: a JVM would otherwise write /tmp/hsperfdata_<user>;
    # spark-class starts a short-lived launcher JVM before the driver's
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = jvm_opts
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--driver-java-options", jvm_opts, "pyspark-shell"]
    )
    if env is os.environ:
        tempfile.tempdir = None  # re-read TMPDIR on the next call
    return found


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def start_session():
    """Set-up as a user pays it: JVM start and session build
    (``session.get_spark``), then registry import (``registry.registry``).
    Returns ``(spark, registry, session_s, registry_s)``."""
    from x8313_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=cores())
    t1 = time.perf_counter()
    from x8313_etl_spark.registry import registry

    reg = registry()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, reg, t1 - t0, t2 - t1
