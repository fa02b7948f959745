"""Per-stage decomposition probes for the r14 optimization round.

Times isolated sub-plans of the heavy bench queries (cold caches per
sample, noop sink — the bench methodology) so optimization targets the
measured stage, not the guessed one.

Usage: python scripts/stageprobe_r14.py <probe> [...] [--runs N]
       [--sf-dir DIR]
Probes: simhash_sketch simhash_tokhash simhash_full minhash_shingle
        minhash_sig minhash_full inc_full pq_full itemcf_full
        semlsh_full
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
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

    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.operators.cachepool import clear_pool
    from x8313_etl_spark.registry import registry
    from x8313_etl_spark.session import get_spark

    spark = get_spark("stageprobe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    spark.sparkContext.setLogLevel("ERROR")
    sp = spark.sparkContext.defaultParallelism

    def docs():
        return load_table(spark, sf_dir, "documents")

    def rdocs():
        return docs().repartition(sp)

    def probe_fns():
        from x8313_etl_spark.operators.minhash import shingle_table, signature_table
        from x8313_etl_spark.queries.pipeline_q import simhash_table_native

        reg = registry()
        return {
            # simhash family
            "simhash_sketch": lambda: simhash_table_native(rdocs()),
            "simhash_tokhash": lambda: _simhash_tokhash(rdocs()),
            "simhash_full": lambda: reg["p_simhash_pairs"].fn(spark, sf_dir),
            # minhash family
            "minhash_shingle": lambda: shingle_table(rdocs(), "doc_id", "text"),
            "minhash_sig": lambda: signature_table(rdocs(), "doc_id", "text"),
            "minhash_full": lambda: reg["l2_near_dup_pairs"].fn(spark, sf_dir),
            "inc_full": lambda: reg["p_incremental_dedup"].fn(spark, sf_dir),
            # pq family
            "pq_full": lambda: reg["sim_pq_topk"].fn(spark, sf_dir),
            "itemcf_full": lambda: reg["p_item_cf"].fn(spark, sf_dir),
            "semlsh_full": lambda: reg["p_semantic_dedup_lsh"].fn(spark, sf_dir),
        }

    def _simhash_tokhash(d):
        # explode+md5 hash only (no aggregation): the per-token hash cost
        from x8313_etl_spark.functions.text import _FP_MOD
        from x8313_etl_spark.functions.text import tokens

        ex = d.select(
            F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
        )
        h0 = F.pmod(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint"),
            F.lit(_FP_MOD),
        )
        return ex.select("doc_id", h0.alias("h0"))

    fns = probe_fns()

    def cold() -> None:
        clear_pool(forget_ledger=False, blocking=True)
        spark.catalog.clearCache()

    for name in names:
        fn = fns[name]
        spark.sparkContext.setJobDescription(f"stageprobe:{name}")
        fn().write.format("noop").mode("overwrite").save()  # warm-up
        samples = []
        for _ in range(runs):
            cold()
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        print(
            f"{name}: median={statistics.median(samples):.3f} "
            f"min={min(samples):.3f} max={max(samples):.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
