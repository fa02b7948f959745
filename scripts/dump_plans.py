"""Dump `.explain("formatted")` for the benchmark's queries → plans/<tag>/.

Optimization receipts: plan claims (Exchange counts, join strategies,
PushedFilters, Python-eval nodes) are checked against these files.
Plan-only — nothing executes.

Usage:
    python scripts/dump_plans.py <tag> before [sf_dir] [name ...]
    python scripts/dump_plans.py <tag> after  [sf_dir] [name ...]

sf_dir defaults to the benchmark's vendored perfbench/data/sf0.01. With
no names, dumps every non-streaming query of
``perfbench.workloads.WORKLOADS``.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    tag = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = (
        sys.argv[3] if len(sys.argv) > 3
        else os.path.join(ROOT, "perfbench", "data", "sf0.01")
    )
    names = sys.argv[4:]

    from perfbench.workloads import WORKLOADS
    from x8313_etl_spark.registry import registry
    from x8313_etl_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    specs = registry()
    todo = names or sorted({q for w in WORKLOADS.values() for q in w.queries})
    for name in todo:
        spec = specs[name]
        if spec.category == "streaming" and not names:
            continue  # streaming runner owns execution; batch twin audited
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
