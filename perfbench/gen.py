"""Workload input generator.

The base tables are the sf0.01 fixtures vendored under ``data/sf0.01``.
A workload's input directory holds ``copies`` key-shifted copies of each
base table (the FK-consistent rule of ``scripts/replica_util.py`` and
``scripts/scale10x_bench.py``), written in a row order drawn from the
seed. The seed changes only the row order, never the multiset of rows,
so every seed asks the same questions of the program and the DuckDB
answers can be cached per row content (see ``oracle.py``).
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")

#: per-copy key shifts: (column -> step, text column given a per-copy
#: prefix token). Region and nation are shared dimensions, never shifted.
SHIFTS: dict[str, tuple[dict[str, int], str | None]] = {
    "region": ({}, None),
    "nation": ({}, None),
    "supplier": ({"s_suppkey": 10**7}, None),
    "customer": ({"c_custkey": 10**7}, None),
    "part": ({"p_partkey": 10**7}, None),
    "orders": ({"o_orderkey": 10**9, "o_custkey": 10**7}, None),
    "lineitem": ({"l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**7}, None),
    "events": ({"event_id": 10**9, "user_id": 10**7}, None),
    "embeddings": ({"vec_id": 10**7}, None),
    "documents": ({"doc_id": 10**7}, "text"),
}
TABLES = tuple(SHIFTS)

#: bump when the generation rule changes, so cached oracle answers for
#: the old rule are not reused
RULE_VERSION = "1"


def _shifted_concat():
    repo = os.path.dirname(HERE)
    scripts = os.path.join(repo, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from replica_util import shifted_concat

    return shifted_concat


def content_key(copies: int) -> str:
    """Identifies the multiset of rows a workload's inputs hold: the base
    fixture bytes, the copy count and the rule. Independent of the seed."""
    h = hashlib.sha256(f"rule={RULE_VERSION};copies={copies}".encode())
    for name in TABLES:
        with open(os.path.join(BASE_DIR, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _row_order(n: int, seed: int, name: str) -> np.ndarray:
    table_salt = int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, table_salt]).permutation(n)


def generate(out_dir: str, copies: int, seed: int, base_dir: str = BASE_DIR) -> dict[str, int]:
    """Write every table's replica to ``out_dir``; returns rows per table."""
    shifted_concat = _shifted_concat()
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        shifts, text_prefix = SHIFTS[name]
        t = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        if shifts and copies > 1:
            t = shifted_concat(t, shifts, copies, text_prefix)
        t = t.take(pa.array(_row_order(len(t), seed, name)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(t)
    return rows
