#!/usr/bin/env python3
"""Benchmark of the x8313_etl_spark query engine.

    python3 perfbench/run.py --workload star_10x --seed 1 --seconds 15 --trace 0

One run, in one driver process (a closed loop, one caller):

1. generate the workload's inputs from the seed (``gen.py``);
2. set up: JVM start and session build (``session.get_spark``), then
   ``registry.registry``;
3. a check pass: every query once, collected and compared with its
   DuckDB twin (``check.py``); it also warms the JVM and Python workers;
4. the workload's fixed number of timed passes (more only if they took
   less than ``--seconds``):
   per query, cold caches (``cachepool.clear_pool`` and
   ``catalog.clearCache``, untimed), then the query-function call
   (build) plus a ``noop`` write of its result (exec);
5. stop the session and its JVM.

A query's hot time is its fastest sample over the run's timed passes
(the "hot run" of analytics benchmarks): the passes still speed up one
after another (JIT) and other guests of a shared host slow single
samples, and the minimum is the statistic least moved by either. Every
run makes the same number of passes, so every run's minimum is taken
at the same point of the warm-up. ``pass_s`` is the sum of the hot times.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` untraced and traced passes alternate; the line
carries the per-layer metrics of the traced passes (``trace.py``) and
``trace.overhead_s``, and the spans go to ``.bench_work/trace/``.
Everything written at run time stays under ``.bench_work/`` and
``.scratch/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import signal
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: what the benchmark needs from the repo besides its own directory
REPO_FILES = (
    "x8313_etl_spark/session.py",
    "x8313_etl_spark/registry.py",
    "tests/oracle_utils.py",
    "scripts/replica_util.py",
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "rows_per_s": "1/s",
    "ok_ratio": "ratio",
}

#: the query modules the workloads' queries live in (selftest.py keeps
#: this in step with workloads.py)
MODULES = (
    "pricing", "tpch_q", "joins", "aggregates", "windows",
    "llm", "similarity_q", "udf_q", "funcs_array", "sources_q", "etl_q", "streaming_q",
)
_SPARK_COUNTS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
)
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "io.load_table_calls": "count",
    "io.load_table_s": "s",
    "io.rows_read": "count",
    "io.bytes_read": "B",
    "io.files_read": "count",
    "io.scan_tasks": "count",
    "io.scan_s": "s",
    "io.write_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "B",
    **{f"queries.{m}.{phase}_s": "s" for m in MODULES for phase in ("build", "exec")},
    **{k: ("B" if k.endswith("_bytes") else "count") for k in _SPARK_COUNTS},
    "spark.task_busy_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "peak_rss_mb": "MB",
    "cachepool.clear_s": "s",
    "cachepool.persisted_rdds": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "check_s": "s",
    "trace.read_s": "s",
    "trace.overhead_s": "s",
}


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                table[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited while we looked
            continue
    return table


def _below(root: int, parents: dict[int, int]) -> set[int]:
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def program_peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the JVM plus every live process below it."""
    total_kb = 0
    for pid in _below(jvm_pid, _parents()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class Run:
    def __init__(self, workload, spark, registry, in_dir: str, input_rows: int):
        self.wl = workload
        self.spark = spark
        self.registry = registry
        self.in_dir = in_dir
        self.input_rows = input_rows
        self.failed_queries: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def cold_caches(self) -> None:
        from x8313_etl_spark.operators.cachepool import clear_pool

        clear_pool(forget_ledger=False, blocking=True)
        self.spark.catalog.clearCache()

    def check_pass(self, cache) -> float:
        from perfbench.check import check_query

        t0 = time.perf_counter()
        for name in self.wl.queries:
            self.cold_caches()
            self.attempted += 1
            q0 = time.perf_counter()
            res = check_query(self.spark, self.registry[name], self.in_dir, cache)
            print(f"# check {name}: {res.detail} ({time.perf_counter() - q0:.2f} s)",
                  file=sys.stderr)
            if not res.ok:
                self.failed += 1
                self.failed_queries.add(name)
                print(f"CHECK FAILED {name}: {res.detail}", file=sys.stderr)
        return time.perf_counter() - t0

    def timed_pass(self, tracer=None) -> dict:
        """One pass; returns per-query (build, exec) times and, when
        traced, the per-layer counters of the pass."""
        times: dict[str, tuple[float, float]] = {}
        layer: Counter = Counter()
        pass_span = None
        if tracer is not None:
            tracer.active = True
            tracer.collect()  # start every counter from this point
            now = time.perf_counter()
            pass_span = tracer.span("pass", now, now)
        for name in self.wl.queries:
            spec = self.registry[name]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            if tracer is not None:
                layer["cachepool.persisted_rdds"] += (
                    self.spark.sparkContext._jsc.getPersistentRDDs().size()
                )
            c0 = time.perf_counter()
            self.cold_caches()
            c1 = time.perf_counter()
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = spec.fn(self.spark, self.in_dir)
                t1 = time.perf_counter()
                built = tracer.collect() if tracer is not None else None
                t1b = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # count the failure, keep measuring the rest
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                self.failed_queries.add(name)
                continue
            times[name] = (t1 - t0, t2 - t1b)
            if tracer is None:
                continue
            self.peak_rss_mb = max(self.peak_rss_mb, program_peak_rss_mb(self.jvm_pid))
            layer.update(built)
            layer.update(tracer.collect())
            layer.update(tracer.take_loads())
            layer["cachepool.clear_s"] += c1 - c0
            layer[f"queries.{module}.build_s"] += t1 - t0
            layer[f"queries.{module}.exec_s"] += t2 - t1b
            q = tracer.span("query", t0, t2, pass_span, query=name, module=module)
            tracer.span("cachepool.clear_pool", c0, c1, q)
            tracer.span("query.build", t0, t1, q)
            tracer.span("noop", t1b, t2, q)
        if tracer is not None:
            tracer.active = False
            tracer.end_span(pass_span, time.perf_counter())
        return {"times": times, "layer": layer}


def _pass_s(p: dict) -> float:
    return sum(b + e for b, e in p["times"].values())


def hot_times(passes: list[dict]) -> dict[str, float]:
    """Each query's fastest (build + exec) time over ``passes``."""
    hot: dict[str, float] = {}
    for p in passes:
        for name, (b, e) in p["times"].items():
            hot[name] = min(hot.get(name, math.inf), b + e)
    return hot


def end_to_end(run: Run, passes: list[dict], setup_s: float) -> dict:
    hot = list(hot_times(passes).values())
    pass_s = sum(hot)
    ok = sum(1 for q in run.wl.queries if q not in run.failed_queries)
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "query_p50_s": statistics.median(hot),
        "rows_per_s": run.input_rows / pass_s,
        "ok_ratio": ok / len(run.wl.queries),
    }


def per_layer(run: Run, plain: list[dict], traced: list[dict], session_s, registry_s,
              check_s, tracer) -> dict:
    from perfbench import runenv

    out = {k: statistics.median(p["layer"].get(k, 0.0) for p in traced) for k in PER_LAYER}
    traced_s = statistics.median(_pass_s(p) for p in traced)
    out["spark.core_util"] = out["spark.task_busy_s"] / (traced_s * runenv.cores())
    out["peak_rss_mb"] = run.peak_rss_mb
    out["session.start_s"] = session_s
    out["registry.load_s"] = registry_s
    out["check_s"] = check_s
    out["trace.read_s"] = tracer.read_s / len(traced)
    out["trace.overhead_s"] = statistics.mean(
        _pass_s(t) - _pass_s(p) for t, p in zip(traced, plain)
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    missing = [p for p in REPO_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"error: not a checkout of the repo, missing {missing}", file=sys.stderr)
        return 2
    from perfbench import gen, runenv
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    os.chdir(ROOT)
    for d in ("tmp", "spark-local"):  # left by the previous run
        shutil.rmtree(os.path.join(runenv.WORK, d), ignore_errors=True)
    overrides = runenv.pin()
    if overrides:
        print(f"# neutralised caller overrides: {overrides}")

    in_dir = os.path.join(runenv.WORK, "inputs", wl.name)
    shutil.rmtree(in_dir, ignore_errors=True)
    g0 = time.perf_counter()
    rows = gen.generate(in_dir, wl.copies, args.seed)
    print(f"# generated {sum(rows.values())} rows in {time.perf_counter() - g0:.2f} s")
    input_rows = sum(rows[t] for t in wl.tables)

    spark, registry, session_s, registry_s = runenv.start_session()
    try:
        from perfbench.check import OracleCache

        run = Run(wl, spark, registry, in_dir, input_rows)
        cache = OracleCache(os.path.join(runenv.WORK, "oracle"), gen.content_key(wl.copies))
        check_s = run.check_pass(cache)

        plain: list[dict] = []
        traced: list[dict] = []
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        measured = 0.0
        ticks0 = cpu_ticks()
        # a traced run makes its passes in untraced + traced pairs
        target = wl.passes if tracer is None else -(-wl.passes // 2)
        while measured < args.seconds or len(plain) < target:
            order = [None] if tracer is None else [None, tracer]
            if tracer is not None and len(plain) % 2 == 0:
                # alternate which of a pair goes first, so that the passes'
                # speed-up from one to the next cancels out of the overhead
                order.reverse()
            for tr in order:
                p = run.timed_pass(tr)
                (plain if tr is None else traced).append(p)
                measured += _pass_s(p)
        ticks1 = cpu_ticks()
        if tracer is not None:
            tracer.close()
    finally:
        runenv.stop_spark(spark)

    if not any(p["times"] for p in plain + traced):
        print("error: every timed query failed", file=sys.stderr)
        return 1
    if tracer is None:
        metrics = end_to_end(run, plain, session_s + registry_s)
        units = END_TO_END
    else:
        metrics = per_layer(run, plain, traced, session_s, registry_s, check_s, tracer)
        units = PER_LAYER
        trace_dir = os.path.join(runenv.WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write_spans(
            os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "metrics": metrics},
        )
    samples = sum(len(p["times"]) for p in plain + traced)
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    print(f"# host CPU time stolen by other guests during the timed passes: {steal:.1%}")
    print("# pass_s of each untraced pass: " + " ".join(f"{_pass_s(p):.3f}" for p in plain))
    hot = hot_times(plain)
    for name in wl.queries:
        ts = [sum(p["times"][name]) for p in plain if name in p["times"]]
        print(f"# {name}: " + " ".join(f"{t:.3f}" for t in ts)
              + (f" (hot {hot[name]:.3f})" if name in hot else ""))
    print(f"# {wl.name}: {len(plain)} untraced + {len(traced)} traced passes, "
          f"{samples} query samples ({len(hot)} hot times), 1 set-up sample, "
          f"check {check_s:.2f} s")
    for k in units:
        print(f"{wl.name} {k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
