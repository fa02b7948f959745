"""Isolated per-query cold-cache probe.

Measures queries one at a time in a single session with BLOCKING cache
clears between samples (noop sink, median of N). Use for optimization
decisions on single queries; perfbench/run.py stays the repo's
benchmark.

Usage: python scripts/isoprobe.py <query> [query ...] [--runs N]
       [--sf-dir DIR]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs, sf_dir = 3, "/root/testdata/sf0.1"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf-dir":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    from x8313_etl_spark.operators.cachepool import clear_pool
    from x8313_etl_spark.registry import registry
    from x8313_etl_spark.session import get_spark

    spark = get_spark("isoprobe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()

    def cold() -> None:
        clear_pool(forget_ledger=False, blocking=True)
        spark.catalog.clearCache()

    for name in names:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"isoprobe:{name}")
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(runs):
            cold()
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        print(
            f"{name}: median={statistics.median(samples):.3f} "
            f"samples={[round(s, 3) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
