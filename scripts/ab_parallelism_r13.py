"""A/B: AQE coalescePartitions.parallelismFirst false (the old session
setting) vs true (Spark default) on heavy and small queries.

Hypothesis (r13 optimization round, guide §2.5/§2.2): with
``parallelismFirst=false`` AQE coalesces every post-shuffle stage to
~advisory-size (64 MB) partitions; at sf0.1 the heavy intermediate
tables (p_item_cf's 2.4M-row symmetrized table, the LSH candidate
tables) compress to a handful of MB, so the big sorts/windows run on
1-2 tasks while 30 cores idle. ``true`` (the Spark default) floors the
coalescing at the session's default parallelism. Small queries move the
other way (more fixed task overhead) — measure both sides.

Methodology: cold caches (blocking) before every sample, noop sink,
median of N.

Usage: python scripts/ab_parallelism_r13.py [--runs N] [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_QUERIES = [
    "p_item_cf",
    "p_bm25_topk",
    "l2_near_dup_pairs",
    "p_incremental_dedup",
    "p_simhash_pairs",
    "p_semantic_dedup_lsh",
    "sim_pq_topk",
    "l6_tfidf",
    "q1_pricing_summary",
    "a1_groupby_basic",
    "w7_topk_per_group",
    "j3_broadcast_star_join",
    "m1_merge_upsert",
]


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names = args or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from x8313_etl_spark.operators.cachepool import clear_pool
    from x8313_etl_spark.registry import registry
    from x8313_etl_spark.session import get_spark

    spark = get_spark("ab-parfirst", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    conf_key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

    def cold() -> None:
        clear_pool(forget_ledger=False, blocking=True)
        spark.catalog.clearCache()

    def sample(name: str) -> float:
        cold()
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # warm-up once per query under each setting (JIT/codegen)
    results: dict[str, dict[str, float]] = {}
    for name in names:
        per = {}
        for setting in ("false", "true"):
            spark.conf.set(conf_key, setting)
            spark.sparkContext.setJobDescription(f"ab:{name}:pf={setting}")
            sample(name)  # warm (not recorded)
            per[setting] = statistics.median([sample(name) for _ in range(runs)])
        results[name] = per
        print(
            f"{name:28s} false={per['false']:.3f}  true={per['true']:.3f}  "
            f"ratio(true/false)={per['true'] / per['false']:.2f}",
            flush=True,
        )
    tf = sum(r["false"] for r in results.values())
    tt = sum(r["true"] for r in results.values())
    print(f"TOTAL false={tf:.2f}  true={tt:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
