"""Per-layer counters and spans, read from outside the program.

Nothing here patches the program's code paths except ``io.load_table``,
which is wrapped (in traced runs only) so its calls can be timed and
counted at the call sites the query modules bound at import. Spark's own
numbers come from its status stores after each call:

- the SQL store (``sharedState().statusStore()``): scan, write and
  Python-worker node metrics of every SQL execution that call started;
- the app store (``sc.statusStore()``): per-stage task counts, run and GC
  time, shuffle and spill bytes;
- the DAG scheduler's job and stage id counters;
- a ``StreamingQueryListener`` for micro-batches.

Spans (name, start, end, parent) and counts stay in memory until
``write_spans`` is called at the end of the run.
"""

from __future__ import annotations

import json
import re
import sys
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL-metric display string as a number in base units (rows, bytes,
    seconds): ``"60,000"``, ``"1018.0 KiB"``, ``"1.5 s"``, or the
    ``"total (min, med, max ...)\\n<total> (...)"`` form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


#: SQL metric name -> per-layer counter it adds to
_SCAN_METRICS = {
    "number of output rows": "io.rows_read",
    "size of files read": "io.bytes_read",
    "number of files read": "io.files_read",
    "scan time": "io.scan_s",
}
_WRITE_METRICS = {
    "number of written files": "io.files_written",
    "written output": "io.bytes_written",
}
_PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class _StreamListener(StreamingQueryListener):
    """Counts micro-batches and their trigger time."""

    def __init__(self):
        self.batches = 0
        self.trigger_ms = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches += 1
        self.trigger_ms += event.progress.durationMs.get("triggerExecution", 0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc.statusStore()
        self.spans: list[dict] = []
        #: io.load_table calls and time since ``take_loads``
        self.loads: Counter = Counter()
        #: whether io.load_table calls are being recorded
        self.active = False
        self.read_s = 0.0
        self._t0 = time.perf_counter()
        self._listener = _StreamListener()
        spark.streams.addListener(self._listener)
        self._sync()
        self._exec_seen = self._max_execution_id()
        self._stage_seen = self.sc.dagScheduler().nextStageId()
        self._jobs_seen = self.sc.dagScheduler().numTotalJobs()
        self._stream_seen = (0, 0)
        self._patch_load_table()

    # -- spans ---------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start - self._t0,
             "end": end - self._t0, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    def end_span(self, span_id: int, end: float) -> None:
        self.spans[span_id]["end"] = end - self._t0

    def write_spans(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)

    # -- io.load_table -------------------------------------------------
    def _patch_load_table(self) -> None:
        import x8313_etl_spark.io as io

        original = io.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            if not tracer.active:
                return original(spark, sf_dir, name)
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                t1 = time.perf_counter()
                tracer.loads["io.load_table_calls"] += 1
                tracer.loads["io.load_table_s"] += t1 - t0
                tracer.span("io.load_table", t0, t1, table=name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("x8313_etl_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                mod.load_table = load_table

    # -- status stores -------------------------------------------------
    def _sync(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        execs = self.sql_store.executionsList(int(n) - 1, 1)
        return execs.apply(0).executionId() if execs.size() else -1

    def take_loads(self) -> Counter:
        loads, self.loads = self.loads, Counter()
        return loads

    def collect(self) -> Counter:
        """Counters added since the previous call."""
        t0 = time.perf_counter()
        self._sync()
        out: Counter = Counter()
        dag = self.sc.dagScheduler()
        jobs = dag.numTotalJobs()
        stages = dag.nextStageId()
        out["spark.jobs"] += jobs - self._jobs_seen
        out["spark.stages"] += stages - self._stage_seen
        for sid in range(self._stage_seen, stages):
            self._read_stage(sid, out)
        self._jobs_seen, self._stage_seen = jobs, stages
        self._read_sql(out)
        lst = self._listener
        out["streaming.batches"] += lst.batches - self._stream_seen[0]
        out["streaming.trigger_s"] += (lst.trigger_ms - self._stream_seen[1]) / 1e3
        self._stream_seen = (lst.batches, lst.trigger_ms)
        self.read_s += time.perf_counter() - t0
        return out

    def _read_stage(self, sid: int, out: Counter) -> None:
        try:
            s = self.app_store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage was skipped, never attempted
            return
        tasks = s.numCompleteTasks() + s.numFailedTasks()
        out["spark.tasks"] += tasks
        out["spark.tasks_failed"] += s.numFailedTasks()
        out["spark.task_busy_s"] += s.executorRunTime() / 1e3
        out["spark.gc_s"] += s.jvmGcTime() / 1e3
        out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if s.inputRecords() > 0:
            out["io.scan_tasks"] += tasks

    def _read_sql(self, out: Counter) -> None:
        last = self._max_execution_id()
        for eid in range(self._exec_seen + 1, last + 1):
            opt = self.sql_store.execution(eid)
            if opt.isEmpty():
                continue
            ex = opt.get()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            writes = False
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                named = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        named[m.name()] = parse_metric(v.get())
                if "number of files read" in named:
                    for name, key in _SCAN_METRICS.items():
                        out[key] += named.get(name, 0.0)
                if "number of written files" in named:
                    writes = True
                    for name, key in _WRITE_METRICS.items():
                        out[key] += named.get(name, 0.0)
                for name, key in _PYTHON_METRICS.items():
                    out[key] += named.get(name, 0.0)
            if writes and ex.completionTime().isDefined():
                out["io.write_s"] += (ex.completionTime().get().getTime() - ex.submissionTime()) / 1e3
        self._exec_seen = max(self._exec_seen, last)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)
