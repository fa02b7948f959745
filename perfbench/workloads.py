"""The benchmark's workloads: fixed query lists over generated inputs.

Each workload runs its queries one after another from one driver
process (a closed loop with one caller) on a ``local[N]`` session,
N = the cores this process may run on.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: key-shifted copies of the vendored sf0.01 base tables
    copies: int
    queries: tuple[str, ...]
    #: the tables the queries read; their rows are the input size that
    #: ``rows_per_s`` divides by
    tables: tuple[str, ...]
    why: str
    #: timed passes per run; the passes still speed up one after another
    #: (JIT), so every run makes the same number, however long they take
    passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="star_10x",
            copies=10,
            queries=(
                "q1_pricing_summary",
                "h5_local_supplier_volume",
                "j9_asof_join",
                "a1_groupby_basic",
                "w7_topk_per_group",
            ),
            tables=("customer", "events", "lineitem", "nation", "orders", "region", "supplier"),
            why=(
                "scan, join and shuffle work on a 10x key-shifted replica of sf0.01 "
                "(866,030 input rows, 600,000 lineitem); no Python workers"
            ),
            passes=6,
        ),
        Workload(
            name="corpus_etl_1x",
            copies=1,
            queries=(
                "l1_exact_dedup",
                "sim_ivf_topk",
                "x4_apply_in_pandas",
                "f11_higher_order",
                "s5_partitioned_write",
                "m7_wap_publish",
                "t9_stream_parquet_sink",
            ),
            tables=("customer", "documents", "embeddings", "lineitem", "orders"),
            why=(
                "sf0.01 inputs (77,500 rows) where per-job, Python-worker, cache-pool, "
                "write-commit and micro-batch fixed costs dominate"
            ),
            passes=5,
        ),
    )
}
