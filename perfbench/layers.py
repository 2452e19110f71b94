"""Per-layer tracing, measured from outside the program.

Nothing in the engine is changed. The tracer

* wraps public functions of ``catalog`` and ``sources`` (counts, wall
  time, jobs launched inside the call). ``install_wrappers`` must run
  before ``e2e_data_pipeline_spark.operators`` or ``plans`` is
  imported: operator modules bind ``load_table`` at import time, and
  ``plans.etl`` binds the ``sources`` functions the same way;
* attributes Spark jobs to a span by job-id range (a streaming
  micro-batch runs on its query's own thread with that thread's job
  group, so job groups would miss it) and sums their stage metrics
  from the status store, which is kept even with the UI disabled;
* reads Catalyst phase times from ``queryExecution().tracker()``;
* reads the Python-node SQL metrics (bytes sent to / returned from
  Python workers, rows returned) from the SQL status store;
* counts streaming queries, batches and per-batch durations with a
  ``StreamingQueryListener``.

All counters accumulate into ``Tracer.acc`` while ``Tracer.active`` is
true; the runner resets it per traced pass.
"""

from __future__ import annotations

import functools
import os
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_ROWS = "number of output rows"

STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
}


class _Span:
    """Job ids and SQL execution ids launched between enter and exit."""

    def __init__(self, tracer: "Tracer"):
        self.t = tracer

    def __enter__(self):
        self.job0 = self.t.next_job_id()
        self.sql0 = self.t.last_sql_execution_id()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        self.jobs = list(range(self.job0, self.t.next_job_id()))
        self.sql1 = self.t.last_sql_execution_id()
        return False


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.acc: dict[str, float] = defaultdict(float)
        self.spark = None
        self._counted_stages: set[int] = set()
        self._stream_peak: dict[str, tuple[float, float]] = {}
        self._depth: dict[str, int] = defaultdict(int)
        self._scan_job0: int | None = None

    # -- wrappers ----------------------------------------------------
    def _wrap(self, module, name: str, prefix: str, jobs: bool = False) -> None:
        """Count calls, wall time and (optionally) jobs of ``module.name``.
        Time spent in the outermost call of a family (``catalog``,
        ``sources``) also goes to ``<family>.outer_s``, so nested calls
        (``register_views`` calls ``load_table``) are not subtracted
        twice from the operator build time."""
        fn = getattr(module, name)
        tracer = self
        family = prefix.split(".")[0]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer.spark is None:
                return fn(*args, **kwargs)
            j0 = tracer.next_job_id() if jobs else 0
            depth = tracer._depth[family]
            tracer._depth[family] = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._depth[family] = depth
                tracer.acc[f"{prefix}_s"] += dt
                tracer.acc[f"{prefix}_calls"] += 1
                if depth == 0:
                    tracer.acc[f"{family}.outer_s"] += dt
                if jobs:
                    tracer.acc[f"{prefix}_jobs"] += tracer.next_job_id() - j0

        setattr(module, name, wrapper)

    def install_wrappers(self) -> None:
        import sys

        for mod in ("e2e_data_pipeline_spark.operators", "e2e_data_pipeline_spark.plans.etl"):
            if mod in sys.modules:
                raise RuntimeError(f"{mod} imported before the trace wrappers")
        from e2e_data_pipeline_spark import catalog, sources

        self._wrap(catalog, "load_table", "catalog.load", jobs=True)
        self._wrap(catalog, "register_views", "catalog.register_views", jobs=True)
        self._wrap(sources, "fetch_to_staging", "sources.fetch")
        self._wrap(sources, "read_parquet_any", "sources.read_parquet")
        self._wrap(sources, "write_parquet_partitioned", "sources.write")
        # The CSV scan sits between the staging fetch and the partitioned
        # write inside main_flow; mark both ends to count its jobs.
        fetch, write = sources.fetch_to_staging, sources.write_parquet_partitioned

        def fetch_marked(*a, **k):
            out = fetch(*a, **k)
            self._scan_job0 = self.next_job_id() if self.active else None
            return out

        def write_marked(df, uri, *a, **k):
            if self.active and self._scan_job0 is not None:
                self.acc["sources.csv_scan_jobs"] += self.next_job_id() - self._scan_job0
                self._scan_job0 = None
            out = write(df, uri, *a, **k)
            if self.active:
                files, size = _tree(uri)
                self.acc["sources.files_written"] += files
                self.acc["sources.bytes_written"] += size
            return out

        sources.fetch_to_staging = fetch_marked
        sources.write_parquet_partitioned = write_marked

    # -- Spark handles -----------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                if tracer.active:
                    tracer.acc["stream.queries"] += 1

            def onQueryProgress(self, event):
                if not tracer.active:
                    return
                p = event.progress
                tracer.acc["stream.batches"] += 1
                tracer.acc["stream.input_rows"] += p.numInputRows
                for metric, key in STREAM_DURATIONS.items():
                    tracer.acc[metric] += p.durationMs.get(key, 0)
                rows = sum(op.numRowsTotal for op in p.stateOperators)
                mem = sum(op.memoryUsedBytes for op in p.stateOperators)
                old = tracer._stream_peak.get(str(p.runId), (0, 0))
                tracer._stream_peak[str(p.runId)] = (max(old[0], rows), max(old[1], mem))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def flush(self) -> None:
        """Wait until every listener (status store, streaming) has seen
        all events posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def last_sql_execution_id(self) -> int:
        n = int(self._sql_store.executionsCount())
        if n == 0:
            return -1
        tail = self._sql_store.executionsList(n - 1, 1)
        return int(tail.apply(0).executionId())

    def span(self) -> _Span:
        return _Span(self)

    def reset(self) -> None:
        self.acc = defaultdict(float)
        self._stream_peak = {}

    def finish_stream_peaks(self) -> None:
        self.acc["stream.state_rows"] += sum(r for r, _ in self._stream_peak.values())
        self.acc["stream.state_memory_bytes"] += sum(m for _, m in self._stream_peak.values())
        self._stream_peak = {}

    # -- span accounting ---------------------------------------------
    def stage_totals(self, span: _Span) -> dict[str, float]:
        """Sum stage metrics over the jobs of ``span`` (each stage once
        per tracer lifetime, so a stage reused by a later job as a
        skipped stage is not counted twice)."""
        tot: dict[str, float] = defaultdict(float)
        tot["jobs"] = len(span.jobs)
        for job_id in span.jobs:
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # NoSuchElementException: job evicted
                continue
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in self._counted_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # NoSuchElementException: never submitted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                tasks = int(st.numCompleteTasks()) + int(st.numFailedTasks())
                tot["stages"] += 1
                tot["tasks"] += tasks
                tot["max_stage_tasks"] = max(tot["max_stage_tasks"], tasks)
                tot["task_run_ms"] += int(st.executorRunTime())
                tot["task_cpu_ms"] += int(st.executorCpuTime()) / 1e6
                tot["gc_ms"] += int(st.jvmGcTime())
                tot["input_bytes"] += int(st.inputBytes())
                tot["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                tot["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                tot["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                tot["output_bytes"] += int(st.outputBytes())
                tot["failed_tasks"] += int(st.numFailedTasks())
        return tot

    def python_totals(self, span: _Span) -> dict[str, float]:
        """Python-node SQL metrics over the SQL executions of ``span``
        (ids after ``sql0`` up to ``sql1``, so a later span's executions
        are not counted here)."""
        tot = {"python.bytes_sent": 0.0, "python.bytes_returned": 0.0, "python.rows_returned": 0.0}
        n = int(self._sql_store.executionsCount())
        width = 64
        while True:
            start = max(0, n - width)
            execs = self._sql_store.executionsList(start, n - start)
            ids = [int(execs.apply(i).executionId()) for i in range(execs.size())]
            if start == 0 or (ids and ids[0] <= span.sql0):
                break
            width *= 4
        for eid in ids:
            if eid <= span.sql0 or eid > span.sql1:
                continue
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                named = {}
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    named[str(m.name())] = int(m.accumulatorId())
                if _PY_SENT not in named:
                    continue
                for key, name in (
                    ("python.bytes_sent", _PY_SENT),
                    ("python.bytes_returned", _PY_BACK),
                    ("python.rows_returned", _PY_ROWS),
                ):
                    raw = values.get(named.get(name, -1))
                    if raw is not None and not raw.isEmpty():
                        tot[key] += _metric_value(str(raw.get()))
        return tot

    def catalyst_phases(self, df) -> dict[str, float]:
        """Plan ``df`` through its own QueryExecution and read the
        analysis / optimization / planning phase times (ms)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric ("1,234" or a size such as
    "total (min, med, max ...)\\n12.3 KiB (...)")."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "B", 1)


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under a local path or file:// URI."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
