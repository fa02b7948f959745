"""Assemble an FK-consistent ~sf1 replica directory (10x sf0.1), the
input the scale10x_* sweeps reuse (first built in round 4,
re-buildable since round 6).

Key shifts per copy c (0..9), chosen so every foreign key still
resolves and every probe-modulus contract keeps its meaning:
- orders/lineitem: *_orderkey + c*10^9
- customer/orders, part/lineitem, supplier/lineitem: entity keys + c*10^7
- events: event_id + c*10^9, user_id + c*10^7
- embeddings: vec_id + c*10^7 (multiple of the %25/%20 probe moduli;
  the vec_id<2000 capped-probe contracts stay FIXED by construction)
- documents: doc_id + c*10^7 and a per-copy prefix token on text, so
  copies are NEAR-duplicates, not exact ones (exact copies make every
  duplicate cluster pair quadratically — r4's measured artifact)
- region/nation: copied once, unchanged (shared dims)

Usage:
  python scripts/scale10x_bench.py build
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/.scratch/replica10x_bench"
COPIES = 10


def build():
    import pyarrow.parquet as pq

    from replica_util import replicate_table

    os.makedirs(DST, exist_ok=True)

    def replicate(name, shifts, text_prefix=None):
        replicate_table(SRC, DST, name, shifts, COPIES, text_prefix)

    for name in ("region", "nation"):
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{DST}/{name}.parquet")
        print(f"{name}: {len(t)} (shared dim, unreplicated)")
    replicate("supplier", {"s_suppkey": 10**7})
    replicate("customer", {"c_custkey": 10**7})
    replicate("part", {"p_partkey": 10**7})
    replicate("orders", {"o_orderkey": 10**9, "o_custkey": 10**7})
    replicate(
        "lineitem",
        {"l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**7},
    )
    replicate("events", {"event_id": 10**9, "user_id": 10**7})
    replicate("embeddings", {"vec_id": 10**7})
    replicate("documents", {"doc_id": 10**7}, text_prefix="text")
    print("built", DST)


if __name__ == "__main__":
    build()
