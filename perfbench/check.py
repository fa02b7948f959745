"""Output check against the DuckDB twins, with the DuckDB side cached.

The verdict rules are those of ``tests/oracle_utils.compare_query``:
the same int128 guard, strict-dtype gate, row count, column names and
per-cell compare with the spec's own tolerance, applied to the same
canonical rows. Only the DuckDB half is reused: it is computed once per
row content of the generated inputs (``gen.content_key``) and oracle SQL
text, then read back from a pickle this module wrote.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

from tests.oracle_utils import (
    CompareResult,
    _assert_no_decimal,
    _canon_cell,
    _cells_equal,
    _strict_dtype_mismatch,
    duckdb_connect,
    oracle_int128_columns,
)


def _column_cells(s: pd.Series) -> list:
    """``_canon_cell`` of every cell of ``s``, a column at a time for the
    plain numpy dtypes (per-cell ``Timestamp.floor`` is what made the
    row-at-a-time canonicalization slow)."""
    if isinstance(s.dtype, np.dtype):
        kind = s.dtype.kind
        if kind == "M":
            return [None if x is pd.NaT else x.to_pydatetime() for x in s.dt.floor("us")]
        if kind == "f":
            return [None if math.isnan(x) else x for x in s.tolist()]
        if kind in "iub":
            return s.tolist()
    return [_canon_cell(v) for v in s.tolist()]


def canonical_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Same columns and rows, in the same order, as
    ``tests.oracle_utils.canonical_rows`` (``selftest.py`` checks this on
    every workload output)."""
    cols = sorted(df.columns)
    rows = list(zip(*(_column_cells(df[c]) for c in cols))) if len(df) else []
    rows.sort(key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r))
    return cols, rows


class OracleCache:
    """DuckDB answers for one workload's inputs, kept on disk."""

    def __init__(self, cache_dir: str, content_key: str):
        self.dir = os.path.join(cache_dir, content_key)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, spec) -> str:
        h = hashlib.sha256(f"{duckdb.__version__}\0{spec.oracle}".encode()).hexdigest()[:16]
        return os.path.join(self.dir, f"{spec.name}-{h}.pkl")

    def expected(self, spec, in_dir: str) -> dict:
        """``{"int128": [...]}`` or ``{"odf": DataFrame, "cols": [...], "rows": [...]}``."""
        path = self._path(spec)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = duckdb_connect(in_dir)
        try:
            rel = con.sql(spec.oracle)
            bad128 = oracle_int128_columns(rel)
            if bad128:
                entry = {"int128": bad128}
            else:
                odf = rel.fetchdf()
                cols, rows = canonical_rows(odf)
                entry = {"odf": odf, "cols": cols, "rows": rows}
        finally:
            con.close()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(entry, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(tmp, path)
        return entry


def verdict(spec, sdf, expected: dict | None) -> CompareResult:
    """``compare_query``'s decision on a collected Spark result ``sdf``."""
    if spec.oracle is None:
        return CompareResult(spec.name, True, f"rows-only: {len(sdf)} rows")
    if "int128" in expected:
        return CompareResult(
            spec.name, False, f"oracle int128 column(s) {expected['int128']}"
        )
    odf = expected["odf"]
    dtype_mismatch = _strict_dtype_mismatch(sdf, odf)
    if dtype_mismatch:
        return CompareResult(spec.name, False, dtype_mismatch)
    if len(sdf) != len(odf):
        return CompareResult(
            spec.name, False, f"row count: spark={len(sdf)} oracle={len(odf)}"
        )
    scols, srows = canonical_rows(sdf)
    ocols, orows = expected["cols"], expected["rows"]
    if scols != ocols:
        return CompareResult(spec.name, False, f"columns: spark={scols} oracle={ocols}")
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for c, (a, b) in zip(scols, zip(sr, orr)):
            if not _cells_equal(a, b, spec.tolerance):
                return CompareResult(
                    spec.name,
                    False,
                    f"value mismatch row {i} col {c}: spark={a!r} oracle={b!r}",
                )
    return CompareResult(spec.name, True, f"{len(sdf)} rows exact")


def check_query(spark, spec, in_dir: str, cache: OracleCache) -> CompareResult:
    """Run ``spec`` once, collect it and judge it; errors are failures."""
    try:
        out = spec.fn(spark, in_dir)
        _assert_no_decimal(spec, out.schema)
        sdf = out.toPandas()
        expected = cache.expected(spec, in_dir) if spec.oracle is not None else None
    except Exception as exc:  # a broken query is a failed check, not a crash
        return CompareResult(spec.name, False, f"{type(exc).__name__}: {exc}")
    return verdict(spec, sdf, expected)
