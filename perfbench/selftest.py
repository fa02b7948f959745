#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/selftest.py            # fast tests, no Spark
    python3 perfbench/selftest.py --spark    # also the Spark-backed tests
    python3 perfbench/selftest.py --known-failure DIR
        # DIR holds the sf0.1 fixtures: shows q1_pricing_summary failing
        # the exact compare on their 10x replica (see NOTES.md)

The functions are plain ``test_*`` functions, so ``pytest
perfbench/selftest.py`` runs the fast ones too.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, runenv, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _tmpdir():
    os.makedirs(runenv.WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=runenv.WORK)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in gen.TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_is_deterministic():
    import pyarrow.parquet as pq

    with _tmpdir() as t:
        a, b, c = (os.path.join(t, x) for x in "abc")
        gen.generate(a, 2, seed=7)
        gen.generate(b, 2, seed=7)
        gen.generate(c, 2, seed=8)
        assert _digests(a) == _digests(b), "same seed must give byte-identical files"
        for name in ("lineitem", "documents"):
            ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
            tc = pq.read_table(os.path.join(c, f"{name}.parquet"))
            assert ta.column(0).to_pylist() != tc.column(0).to_pylist(), (
                f"{name}: another seed must give another row order"
            )
            keys = [(c, "ascending") for c in ta.column_names]
            assert ta.sort_by(keys).equals(tc.sort_by(keys)), (
                f"{name}: the seed may change the row order only, not the rows"
            )


def test_replica_row_counts():
    with _tmpdir() as t:
        one = gen.generate(os.path.join(t, "x1"), 1, seed=1)
        three = gen.generate(os.path.join(t, "x3"), 3, seed=1)
    for name in gen.TABLES:
        shared = not gen.SHIFTS[name][0]
        assert three[name] == one[name] * (1 if shared else 3), name


def test_content_key_ignores_seed_and_tracks_copies():
    assert gen.content_key(10) == gen.content_key(10)
    assert gen.content_key(10) != gen.content_key(1)


def test_pin_neutralises_overrides():
    env = {
        "SPARK_GRAFT_CPUS": "32",
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST": "false",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_SF_DIR": "/elsewhere",
        "PYTHONPATH": "vendor/pylib",
    }
    found = runenv.pin(env)
    assert found == {
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST": "false",
        "SPARK_GRAFT_CPUS": "32",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_SF_DIR": "/elsewhere",
    }
    assert {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT_")} == runenv.pinned_graft_env()
    assert env["PYTHONPATH"].split(os.pathsep) == [runenv.ROOT, "vendor/pylib"]
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        assert env[key].startswith(runenv.WORK + os.sep), key
    for key in ("PYSPARK_SUBMIT_ARGS", "SPARK_LAUNCHER_OPTS"):
        assert f"-Djava.io.tmpdir={runenv.WORK}" in env[key], key
        assert "-XX:-UsePerfData" in env[key], key


def test_parse_metric():
    assert trace.parse_metric("60,000") == 60000
    assert trace.parse_metric("1018.0 KiB") == 1018.0 * 1024
    assert trace.parse_metric("982 ms") == 0.982
    assert trace.parse_metric("1.5 s") == 1.5
    assert trace.parse_metric("2.0 m") == 120.0
    assert trace.parse_metric(
        "total (min, med, max (stageId: taskId))\n21 ms (5 ms, 16 ms, 16 ms (stage 2.0: task 1))"
    ) == 0.021


def test_end_to_end_uses_hot_times():
    from perfbench import run

    wl = type(WORKLOADS["star_10x"])("t", 1, ("a", "b", "c"), (), "", 2)
    r = run.Run.__new__(run.Run)
    r.wl, r.failed_queries, r.input_rows = wl, {"c"}, 13
    passes = [
        {"times": {"a": (0.5, 1.5), "b": (0.125, 0.125)}},  # a: 2.0, b: 0.25
        {"times": {"a": (0.25, 0.75), "b": (0.25, 0.25)}},  # a: 1.0, b: 0.5
    ]
    assert run.hot_times(passes) == {"a": 1.0, "b": 0.25}
    m = run.end_to_end(r, passes, 9.0)
    assert m["pass_s"] == 1.25  # the sum of each query's fastest sample
    assert m["query_p50_s"] == 0.625
    assert m["rows_per_s"] == 13 / m["pass_s"]
    assert m["setup_s"] == 9.0
    assert m["ok_ratio"] == 2 / 3


def test_benchmark_json_matches_the_runner():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(w["name"], w["why"]) for w in spec["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    modules = set()
    from x8313_etl_spark.registry import registry

    reg = registry()
    for w in WORKLOADS.values():
        modules |= {reg[q].fn.__module__.rsplit(".", 1)[-1] for q in w.queries}
    assert modules == set(run.MODULES)


# -- Spark-backed -------------------------------------------------------------


def _spark_tests(spark, reg) -> None:
    from tests.oracle_utils import canonical_rows as reference_rows
    from tests.oracle_utils import compare_query

    from perfbench import check
    from perfbench.run import Run
    from perfbench.trace import Tracer

    tracer = Tracer(spark)
    try:
        for w in WORKLOADS.values():
            in_dir = os.path.join(runenv.WORK, "selftest", w.name)
            gen.generate(in_dir, w.copies, seed=3)
            cache = check.OracleCache(os.path.join(runenv.WORK, "selftest", "oracle"),
                                      gen.content_key(w.copies))
            for name in w.queries:
                spec = reg[name]
                sdf = spec.fn(spark, in_dir).toPandas()
                assert check.canonical_rows(sdf) == reference_rows(sdf), name
                ours = check.check_query(spark, spec, in_dir, cache)
                theirs = compare_query(spark, spec, in_dir)
                assert ours.ok == theirs.ok, (name, ours.detail, theirs.detail)
                print(f"same verdict {w.name} {name}: {theirs.ok} ({theirs.detail})")
                expected = cache.expected(spec, in_dir)
                if len(sdf) and not check.verdict(spec, sdf.iloc[1:], expected).ok:
                    print(f"  a missing row fails the check: {name}")
                else:
                    raise AssertionError(f"{name}: the check missed a dropped row")

            # the tables the workload declares are the ones its queries load
            spans = len(tracer.spans)
            Run(w, spark, reg, in_dir, 1).timed_pass(tracer)
            loaded = {s["table"] for s in tracer.spans[spans:] if s["name"] == "io.load_table"}
            assert loaded == set(w.tables), (w.name, sorted(loaded))

        # scan counts from the scan nodes repeat exactly across two traced passes
        w = WORKLOADS["star_10x"]
        in_dir = os.path.join(runenv.WORK, "selftest", "star_small")
        gen.generate(in_dir, 1, seed=5)
        small = type(w)(w.name, 1, w.queries, w.tables, w.why, w.passes)
        run = Run(small, spark, reg, in_dir, 1)
        passes = [run.timed_pass(tracer) for _ in range(2)]
    finally:
        tracer.close()
    counts = ("io.rows_read", "io.bytes_read", "io.files_read", "io.scan_tasks",
              "io.load_table_calls", "spark.jobs", "spark.stages")
    first, second = (Counter({k: p["layer"][k] for k in counts}) for p in passes)
    assert first == second, (first, second)
    assert first["io.rows_read"] > 0 and first["io.files_read"] > 0, first
    print(f"scan counts repeat: {dict(first)}")


def spark_tests() -> None:
    runenv.pin()
    spark, reg, _, _ = runenv.start_session()
    try:
        _spark_tests(spark, reg)
    finally:
        runenv.stop_spark(spark)


def known_failure(base: str) -> bool:
    """q1 on a 10x replica of ``base``: True when the exact compare fails,
    and the benchmark's cached check gives the same verdict."""
    from tests.oracle_utils import compare_query

    from perfbench import check

    runenv.pin()
    in_dir = os.path.join(runenv.WORK, "selftest", "known_failure")
    gen.generate(in_dir, 10, seed=1, base_dir=base)
    spark, reg, _, _ = runenv.start_session()
    try:
        spec = reg["q1_pricing_summary"]
        theirs = compare_query(spark, spec, in_dir)
        with _tmpdir() as t:
            ours = check.check_query(spark, spec, in_dir, check.OracleCache(t, "known_failure"))
    finally:
        runenv.stop_spark(spark)
    print(theirs)
    print(ours)
    return not theirs.ok and not ours.ok


def main() -> int:
    ap = argparse.ArgumentParser(description="tests of the benchmark")
    ap.add_argument("--spark", action="store_true", help="also run the Spark-backed tests")
    ap.add_argument("--known-failure", metavar="DIR",
                    help="reproduce the q1 exact-compare failure on DIR's 10x replica")
    args = ap.parse_args()
    if args.known_failure:
        return 0 if known_failure(args.known_failure) else 1
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}")
    if args.spark:
        spark_tests()
        print("ok spark tests")
    return 0


if __name__ == "__main__":
    sys.exit(main())
