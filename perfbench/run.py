"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query --seed 1 --seconds 6 --trace 0

One run, in one process:

1. make the inputs (the taxi CSV, cached per seed and row count; the
   fixture tables are shipped in ``perfbench/data/``) — not counted in
   ``setup_s``;
2. set up: ``get_spark``, the operator registry import and two untraced
   warm-up passes; the outputs of the first are kept for the output check;
3. measure: start timed passes until ``--seconds`` have elapsed. With
   ``--trace 1`` untraced and traced passes alternate;
4. check the warm-up outputs (DuckDB oracles, ETL counts), read the peak
   RSS, stop Spark and its JVM, and measure what the program left in
   its temp directories.

The last stdout line is the result JSON; the line before it is a
report with every end-to-end figure, the checks and the input layout.
Everything the run writes lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from workloads import ALL_OPS, ETL_OP, SF, WORKLOADS  # noqa: E402

EXPORT_LIMIT = 100_000  # main_flow's default export_limit

#: Checks that fail on the current program for a known, recorded reason.
#: They run on every ingest call and are reported by name, but do not
#: set ``correct`` to false (see README.md, "Known defects").
KNOWN_DEFECTS = {
    "etl.blank_passenger_count_kept": (
        "plans/etl.clean drops rows with a blank passenger_count; the "
        "reference filter (pandas df[df.passenger_count != 0]) keeps them"
    ),
}

#: Bounded end-to-end metrics (BENCHMARK.json); the report prints more.
END_TO_END = ("pass_s", "setup_s")
LAYER_METRICS = (
    "session.get_spark_s", "registry.import_s", "setup.warmup_s",
    "catalog.load_calls", "catalog.load_s", "catalog.load_jobs",
    "catalog.register_views_calls",
    "operators.build_s", "operators.build_self_s", "operators.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.max_stage_tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.output_bytes", "exec.failed_tasks",
    "build.tasks", "build.task_run_ms", "build.shuffle_write_bytes",
    "python.bytes_sent", "python.bytes_returned", "python.rows_returned",
    "stream.queries", "stream.batches", "stream.input_rows", "stream.trigger_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
    "stream.latest_offset_ms", "stream.query_planning_ms", "stream.state_rows",
    "stream.state_memory_bytes", "stream.overhead_s",
    "etl.fetch_s", "etl.scan_s", "etl.clean_write_s", "etl.readback_export_s",
    "sources.csv_scan_jobs", "sources.write_s", "sources.bytes_written",
    "sources.files_written", "sources.read_parquet_calls",
    "rows_per_s", "peak_rss_mb", "tmp_left_mb", "trace.overhead_s",
) + tuple(f"op.{op}_s" for op in ALL_OPS)


def _units(name: str) -> str:
    if name == "rows_per_s":
        return "rows/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _du(path: str) -> int:
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except OSError:
                pass
    return total


def _tmp_entries(root: str = "/tmp") -> set[str]:
    """Top-level entries of ``root`` and their children (depth 2)."""
    out: set[str] = set()
    try:
        top = os.listdir(root)
    except OSError:
        return out
    for name in top:
        path = os.path.join(root, name)
        out.add(path)
        if os.path.isdir(path) and not os.path.islink(path):
            try:
                out.update(os.path.join(path, c) for c in os.listdir(path))
            except OSError:
                pass
    return out


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    found, frontier = [], [root]
    while frontier:
        frontier = [pid for pid, ppid in parent.items() if ppid in frontier]
        found += frontier
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _layout(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    out = {}
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        files = (
            sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
            if os.path.isdir(path)
            else sorted(glob.glob(path))
        )
        metas = [pq.ParquetFile(f).metadata for f in files]
        out[t] = {
            "files": len(files),
            "row_groups": sum(m.num_row_groups for m in metas),
            "rows": sum(m.num_rows for m in metas),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return out


class Runner:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        self.layer_passes: list[dict[str, float]] = []
        self.traced_walls: list[float] = []
        self.untraced_walls: list[float] = []
        self.checks: dict[str, str] = {}
        self.known: dict[str, str] = {}
        self.etl_results: list = []

    # -- inputs ------------------------------------------------------
    def make_inputs(self) -> float:
        t0 = time.time()
        work = os.path.join(self.root, ".perfbench")
        self.work = work
        self.sf_dir = os.path.join(HERE, "data", f"sf{SF:g}")
        self.csv = (
            fixtures.build_taxi_csv(os.path.join(work, "csv"), self.args.seed, self.wl.csv_rows)
            if self.wl.csv_rows
            else None
        )
        return time.time() - t0

    def isolate_temp(self) -> None:
        """Point every temp location of the program at a fresh directory."""
        os.makedirs(self.work, exist_ok=True)
        self.run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=self.work)
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp_dir)
        self.etl_dir = os.path.join(self.run_dir, "etl")
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = self.tmp_dir
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp_dir, "spark-local")
        # -XX:-UsePerfData: the JVM would otherwise keep its perf-counter
        # file under /tmp whatever java.io.tmpdir says.
        java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xss16m")
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
            f"{java_opts} -Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData"
        )
        # Half the cores run Spark tasks; the rest are left to the JVM's
        # JIT-compiler and GC threads and to the Python workers a pass
        # starts. At local[nproc] these compete with the task threads and
        # the run-to-run spread of pass_s doubles (README.md, "Cores").
        nproc = len(os.sched_getaffinity(0))
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, nproc // 2)))
        self.tmp_before = _tmp_entries()
        self.t_run_start = time.time()

    # -- Spark -------------------------------------------------------
    def start(self) -> None:
        sys.path.insert(0, self.root)
        self.tracer = None
        if self.args.trace:
            from layers import Tracer

            self.tracer = Tracer()
            self.tracer.install_wrappers()
        t0 = time.perf_counter()
        from e2e_data_pipeline_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        from e2e_data_pipeline_spark.operators import ORACLES, QUERIES
        from e2e_data_pipeline_spark.plans.etl import main_flow

        self.registry_import_s = time.perf_counter() - t0
        self.QUERIES, self.ORACLES, self.main_flow = QUERIES, ORACLES, main_flow
        if self.tracer:
            self.tracer.attach(self.spark)

    def order(self) -> list[str]:
        ops = list(self.wl.ops)
        self.rng.shuffle(ops)
        return ops

    def run_op(self, op: str, mode: str):
        """Run one operation. ``mode`` is "collect" (first warm-up pass:
        keep the output for the check) or "noop" (execute fully, keep
        nothing)."""
        if op == ETL_OP:
            return self.main_flow(self.spark, "file://" + self.csv["path"], self.etl_dir)
        df = self.QUERIES[op](self.spark, self.sf_dir)
        if mode == "collect":
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def guarded(self, op: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            self.failures.append(f"{op}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            traceback.print_exc(file=sys.stderr)
            return None

    def warmup(self) -> None:
        """Two untimed passes. The first is cold (JVM start-up, JIT,
        codegen, Python workers) and keeps every output for the check;
        the second runs each operation the way a timed pass does, so
        that the timed passes measure the third and later executions,
        after most of the JIT compilation is done."""
        t0 = time.perf_counter()
        self.warm_out = {}
        self.warm_op_s = {op: [] for op in self.wl.ops}
        for mode in ("collect", "noop"):
            for op in self.order():
                t_op = time.perf_counter()
                out = self.guarded(op, lambda op=op: self.run_op(op, mode))
                self.warm_op_s[op].append(time.perf_counter() - t_op)
                if op == ETL_OP:
                    if out is not None:
                        self.etl_results.append(out)
                elif mode == "collect":
                    self.warm_out[op] = out
        self.warmup_s = time.perf_counter() - t0

    def untraced_pass(self) -> float:
        wall = 0.0
        for op in self.order():
            t0 = time.perf_counter()
            out = self.guarded(op, lambda op=op: self.run_op(op, "noop"))
            dt = time.perf_counter() - t0
            wall += dt
            self.samples[op].append(dt)
            if op == ETL_OP and out is not None:
                self.etl_results.append(out)
        self.untraced_walls.append(wall)
        return wall

    def traced_pass(self) -> float:
        tr = self.tracer
        tr.reset()
        tr.active = True
        acc: dict[str, float] = {k: 0.0 for k in LAYER_METRICS if not k.startswith("op.")}
        t_pass = time.perf_counter()
        stream_build = 0.0
        for op in self.order():
            self.attempted += 1
            try:
                if op == ETL_OP:
                    with tr.span() as sp:
                        res = self.run_op(op, "noop")
                    self.etl_results.append(res)
                    for k, v in res.timings_s.items():
                        acc[f"etl.{k}_s"] += v
                    tr.flush()
                    self._add_stage(acc, "exec", tr.stage_totals(sp))
                    acc["exec.s"] += sp.seconds
                    self._add_python(acc, tr.python_totals(sp))
                    continue
                with tr.span() as b:
                    df = self.QUERIES[op](self.spark, self.sf_dir)
                acc["operators.build_s"] += b.seconds
                if op.startswith("stream_"):
                    stream_build += b.seconds
                tr.flush()
                self._add_stage(acc, "build", tr.stage_totals(b))
                for k, v in tr.catalyst_phases(df).items():
                    acc[k] += v
                with tr.span() as e:
                    df.write.format("noop").mode("overwrite").save()
                acc["exec.s"] += e.seconds
                tr.flush()
                self._add_stage(acc, "exec", tr.stage_totals(e))
                self._add_python(acc, tr.python_totals(b))
                self._add_python(acc, tr.python_totals(e))
            except Exception as ex:  # noqa: BLE001
                self.failures.append(f"{op} (traced): {type(ex).__name__}: {str(ex).splitlines()[0][:300]}")
                traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t_pass
        tr.flush()
        tr.finish_stream_peaks()
        tr.active = False
        got = tr.acc
        for k, v in got.items():
            if k in acc:
                acc[k] += v
        acc["operators.build_self_s"] = acc["operators.build_s"] - got.get("catalog.outer_s", 0.0)
        acc["operators.build_jobs"] = acc.pop("build.jobs", 0.0)
        acc["stream.overhead_s"] = stream_build - acc["stream.trigger_ms"] / 1000.0 if stream_build else 0.0
        for k in [k for k in acc if k.startswith("build.") and k not in LAYER_METRICS]:
            acc.pop(k)
        self.layer_passes.append(acc)
        self.traced_walls.append(wall)
        return wall

    @staticmethod
    def _add_stage(acc: dict, prefix: str, tot: dict) -> None:
        for k, v in tot.items():
            key = f"{prefix}.{k}"
            if k == "max_stage_tasks":
                acc[key] = max(acc.get(key, 0.0), v)
            else:
                acc[key] = acc.get(key, 0.0) + v

    @staticmethod
    def _add_python(acc: dict, tot: dict) -> None:
        for k, v in tot.items():
            acc[k] += v

    def measure(self) -> None:
        """Start passes until ``--seconds`` have elapsed (the pass in
        progress finishes). A traced run alternates traced and untraced
        passes, traced first, so its layer figures come from the same
        (third) execution of each operation as an untraced run's
        ``pass_s``; it makes at least one pass of each kind."""
        budget = float(self.args.seconds)
        steal0 = _steal_s()
        t0 = time.perf_counter()
        traced_next = self.tracer is not None
        while True:
            if traced_next:
                self.traced_pass()
            else:
                self.untraced_pass()
            traced_next = self.tracer is not None and not traced_next
            enough = self.tracer is None or len(self.untraced_walls) >= 1
            if time.perf_counter() - t0 >= budget and enough:
                break
        self.measure_s = time.perf_counter() - t0
        self.steal_share = (_steal_s() - steal0) / (self.measure_s * len(os.sched_getaffinity(0)))

    # -- checks ------------------------------------------------------
    def check_outputs(self) -> None:
        t0 = time.perf_counter()
        query_ops = [op for op in self.wl.ops if op != ETL_OP]
        if query_ops:
            import duckdb

            # tools/check_oracle.canon is the project's canonical row form.
            sys.path.insert(0, os.path.join(self.root, "tools"))
            from check_oracle import canon

            con = duckdb.connect()
            from e2e_data_pipeline_spark.schemas import TABLES

            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for op in query_ops:
                got = self.warm_out.get(op)
                name = f"oracle.{op}"
                if got is None:
                    self.checks[name] = "FAIL: no output (the warm-up run raised)"
                    continue
                if op not in self.ORACLES:
                    self.checks[name] = "FAIL: no oracle entry"
                    continue
                (acols, arows), (bcols, brows) = canon(got), canon(con.sql(self.ORACLES[op]).df())
                if acols != bcols:
                    self.checks[name] = f"FAIL: columns {acols} != {bcols}"
                elif len(arows) != len(brows):
                    self.checks[name] = f"FAIL: {len(arows)} rows, oracle {len(brows)}"
                elif arows != brows:
                    i = next(i for i, (a, b) in enumerate(zip(arows, brows)) if a != b)
                    self.checks[name] = f"FAIL: canon row {i}: {arows[i]} != {brows[i]}"
                else:
                    self.checks[name] = f"ok ({len(arows)} rows)"
        if ETL_OP in self.wl.ops:
            self.check_etl()
        self.check_s = time.perf_counter() - t0

    def check_etl(self) -> None:
        import pyarrow.parquet as pq

        meta = self.csv
        want_out = meta["rows"] - meta["zeros"]
        # etl.rows_out gates every other row loss or duplication. It
        # accepts the reference count and, while the known defect stands,
        # the count without the blank rows; the defect itself is reported
        # by etl.blank_passenger_count_kept.
        allowed_out = {want_out, want_out - meta["blanks"]}
        bad: dict[str, list[str]] = {}
        for r in self.etl_results:
            facts = {
                "etl.rows_in": (r.rows_in, {meta["rows"]}),
                "etl.rows_filtered": (r.rows_filtered, {meta["zeros"]}),
                "etl.rows_out": (r.rows_out, allowed_out),
                "etl.exported_rows": (r.exported_rows, {min(n, EXPORT_LIMIT) for n in allowed_out}),
                "etl.blank_passenger_count_kept": (r.rows_out, {want_out}),
            }
            for name, (got, want) in facts.items():
                if got not in want:
                    shown = " or ".join(f"{w:,}" for w in sorted(want))
                    bad.setdefault(name, []).append(f"{got:,} != expected {shown}")
        names = ["etl.rows_in", "etl.rows_filtered", "etl.rows_out", "etl.exported_rows",
                 "etl.blank_passenger_count_kept"]
        n = len(self.etl_results)
        for name in names:
            if not n:
                self.checks[name] = "FAIL: no ETL result"
            elif name in bad:
                msg = f"FAIL in {len(bad[name])}/{n} calls: {bad[name][0]}"
                if name == "etl.blank_passenger_count_kept":
                    msg += (
                        f" (rows_out; the CSV has {meta['blanks']:,} blank"
                        f" passenger_count rows)"
                    )
                self.checks[name] = msg
            else:
                self.checks[name] = f"ok ({n} calls)"
        # The curated parquet (left by the last call) must hold rows_out
        # rows, counted from its footers, and its timestamp columns must
        # be timestamps.
        files = sorted(glob.glob(os.path.join(self.etl_dir, "curated", "**", "*.parquet"), recursive=True))
        if not files:
            self.checks["etl.curated_rows"] = "FAIL: no curated parquet files"
            self.checks["etl.timestamp_types"] = "FAIL: no curated parquet files"
        else:
            got = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            want = self.etl_results[-1].rows_out if n else -1
            self.checks["etl.curated_rows"] = (
                f"ok ({got:,} rows in {len(files)} files)" if got == want
                else f"FAIL: {got:,} rows in the files, rows_out {want:,}"
            )
            schema = pq.read_schema(files[0])
            types = {c: str(schema.field(c).type) for c in ("lpep_pickup_datetime", "lpep_dropoff_datetime") if c in schema.names}
            ok = len(types) == 2 and all(t.startswith("timestamp") for t in types.values())
            self.checks["etl.timestamp_types"] = ("ok " if ok else "FAIL: ") + json.dumps(types)
        for name in KNOWN_DEFECTS:
            if self.checks.get(name, "").startswith("FAIL"):
                self.known[name] = self.checks.pop(name)

    # -- teardown ----------------------------------------------------
    def stop(self) -> None:
        from pyspark import SparkContext

        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.peak_rss_mb = _vmhwm_mb(jvm_pid) + _vmhwm_mb("self")
        self.config = {
            "master": self.spark.sparkContext.master,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
        }
        self.spark.stop()
        # Stop the JVM too and wait for it (it exits when its stdin closes),
        # then for its Python workers, which exit when the JVM is gone.
        gw = SparkContext._gateway
        proc = gw.proc
        workers = _descendants(proc.pid)
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while workers and time.time() < deadline:
            workers = [p for p in workers if _alive(p)]
            time.sleep(0.1)
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def measure_leaks(self) -> None:
        """Bytes the program left behind after Spark stopped: everything
        under the run's temp dir plus new entries in /tmp (some paths are
        hardcoded there). The benchmark's own ETL output is removed
        first; the ETL staging copy is part of that output."""
        shutil.rmtree(self.etl_dir, ignore_errors=True)
        left = _du(self.tmp_dir)
        new = _tmp_entries() - self.tmp_before
        outside = {}
        for p in sorted(new):
            if os.path.dirname(p) in new:
                continue  # counted with its new parent
            try:
                if os.path.getmtime(p) >= self.t_run_start - 1:
                    outside[p] = _du(p)
            except OSError:
                pass
        self.tmp_left_bytes = left + sum(outside.values())
        self.tmp_left_where = {
            "run_tmpdir_bytes": left,
            "run_tmpdir_entries": sorted(os.listdir(self.tmp_dir))[:20],
            "new_tmp_entries": outside,
        }
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- results -----------------------------------------------------
    def pass_s(self) -> float:
        """The median pass: each operation's median time, summed."""
        return sum(statistics.median(s) for s in self.samples.values() if s)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "e2e_data_pipeline_spark", "__init__.py")):
        print(
            "perfbench: e2e_data_pipeline_spark/ not found; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2

    r = Runner(args, root)
    inputs_s = r.make_inputs()
    r.isolate_temp()
    r.start()
    r.warmup()
    setup_s = time.time() - T_PROCESS - inputs_s
    r.measure()
    r.check_outputs()
    r.stop()
    r.measure_leaks()

    failed_checks = [k for k, v in r.checks.items() if v.startswith("FAIL")]
    failed = len(r.failures) + len(failed_checks)
    attempted = r.attempted + len(r.checks) + len(r.known)
    pass_s = r.pass_s()
    rows_per_s = (r.csv["rows"] / statistics.median(r.samples[ETL_OP])) if r.csv and r.samples[ETL_OP] else 0.0
    walls = r.untraced_walls
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s", "passes": len(walls),
                       "spread": (max(walls) - min(walls)) / pass_s if len(walls) > 1 and pass_s else 0.0},
            "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            "ops_failed_ratio": {"value": failed / attempted if attempted else 0.0, "unit": "ratio"},
            "peak_rss_mb": {"value": r.peak_rss_mb, "unit": "MB"},
            "tmp_left_mb": {"value": r.tmp_left_bytes / 1e6, "unit": "MB"},
        },
        "setup_parts": {
            "session.get_spark_s": r.get_spark_s,
            "registry.import_s": r.registry_import_s,
            "setup.warmup_s": r.warmup_s,
            "inputs_s (excluded)": inputs_s,
        },
        "warmup_op_s": r.warm_op_s,
        "op_median_s": {op: statistics.median(s) for op, s in r.samples.items() if s},
        "op_samples_s": r.samples,
        "etl_timings_s": [res.timings_s for res in r.etl_results],
        "checks": r.checks,
        "known_defects": {k: {"result": v, "why": KNOWN_DEFECTS[k]} for k, v in r.known.items()},
        "failures": r.failures,
        "check_s": r.check_s,
        "measure_s": r.measure_s,
        "host_steal_share": r.steal_share,
        "tmp_left": r.tmp_left_where,
        "config": r.config,
        "layout": _layout(r.sf_dir),
        "csv": r.csv,
    }
    if args.trace:
        layers = {}
        for k in LAYER_METRICS:
            vals = [p.get(k, 0.0) for p in r.layer_passes]
            layers[k] = statistics.median(vals) if vals else 0.0
        layers["session.get_spark_s"] = r.get_spark_s
        layers["registry.import_s"] = r.registry_import_s
        layers["setup.warmup_s"] = r.warmup_s
        layers["rows_per_s"] = rows_per_s
        layers["peak_rss_mb"] = r.peak_rss_mb
        layers["tmp_left_mb"] = r.tmp_left_bytes / 1e6
        layers["trace.overhead_s"] = statistics.median(r.traced_walls) - statistics.median(walls) if walls else 0.0
        for op in ALL_OPS:
            s = r.samples.get(op)
            layers[f"op.{op}_s"] = statistics.median(s) if s else 0.0
        metrics = {k: {"value": layers[k], "unit": _units(k)} for k in LAYER_METRICS}
        report["layers"] = layers
    else:
        e2e = report["end_to_end"]
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in END_TO_END}
    if r.known:
        for k, v in r.known.items():
            print(f"perfbench: KNOWN DEFECT {k}: {v}", file=sys.stderr)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
