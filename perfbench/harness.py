"""Process set-up, engine counters, tracing and statistics shared by the
workloads.

Everything here runs in the benchmark's own process. The engine is only
called through its public functions; Spark's counters are read from
outside the program through the application status store.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "2g"

T0 = time.perf_counter()  # process start: the origin of setup_s and of spans


def nproc() -> int:
    return len(os.sched_getaffinity(0))


TASK_THREADS = 2  # Spark task slots, at most nproc


def master() -> str:
    """``local[n]`` with n = min(TASK_THREADS, nproc). At these input
    sizes a call is dominated by per-job and per-trigger overhead, so a
    single slot is almost as fast as four (``baseline.speedup``); two
    slots keep parallel tasks and shuffles while leaving the other cores
    to the JVM's GC and JIT threads, Spark's Python workers and this
    process. On a shared host, filling every core makes the timings
    measure the host's scheduler rather than the engine."""
    return f"local[{min(TASK_THREADS, nproc())}]"


def prepare_environment(workload: str, seed: int) -> str:
    """Give this invocation a private scratch directory inside the
    checkout and point every temp location at it: Python's ``tempfile``
    (the engine keys its machine-level staging caches by
    ``tempfile.gettempdir()`` plus the data directory's basename, so two
    seeds or two checkouts would otherwise share one staged copy), the
    JVM and Spark's block store. Must run before pyspark or the engine
    is imported, because ``workdirs`` reads the temp root at import."""
    work = os.path.join(
        ROOT, ".perfbench_work",
        f"{workload}-seed{seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}",
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM this process starts (spark-submit's launcher included)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(TASK_THREADS, nproc()))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return work


def start_spark(work: str, master: str):
    """The engine's own session factory, plus benchmark-side settings:
    scratch inside the checkout, PYTHONPATH for the Python workers (so
    ``mapInPandas`` workers import the package from any working
    directory) and status-store retention large enough that per-stage
    spill sums never lose evicted stages."""
    from etl_mp_transactions_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=master,
        extra_conf={
            "spark.local.dir": tmp,
            # a fixed-size heap: the JVM's RSS and GC work then do not
            # depend on when it decided to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


class Engine:
    """Cumulative executor totals read from Spark's status store. The
    listener bus is drained first, so the totals include every task of
    every job that has returned."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._spill = 0
        self._last_stage = -1
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def totals(self) -> dict[str, float]:
        self.drain()
        execs = self._store.executorList(True)
        tot = {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
               "failed_tasks": 0.0}
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["task_s"] += e.totalDuration() / 1e3
            tot["gc_s"] += e.totalGCTime() / 1e3
            tot["shuffle_write_mb"] += e.totalShuffleWrite() / 2**20
            tot["failed_tasks"] += e.failedTasks()
        jobs = self._store.jobsList(None)
        tot["jobs"] = float(jobs.apply(0).jobId() + 1) if jobs.size() else 0.0
        # executor totals carry no spill; stages do. The list is newest
        # first, so only stages finished since the last call are read.
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        newest = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._last_stage:
                break
            newest = max(newest, s.stageId())
            self._spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = newest
        tot["spill_mb"] = self._spill / 2**20
        return tot

    @staticmethod
    def delta(after: dict, before: dict) -> dict[str, float]:
        return {k: after[k] - before[k] for k in after}

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        rdds = self._store.rddList(True)
        mb = sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed())
            for i in range(rdds.size())
        ) / 2**20
        return rdds.size(), mb


ENGINE_DELTAS = ("jobs", "task_s", "gc_s", "shuffle_write_mb", "spill_mb",
                 "failed_tasks")


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process under the JVM (Spark's Python daemon and workers; exited
    workers count through their parent's reaped-children times), less
    the JVM's JIT compiler threads: compiling is warm-up whose amount
    depends on timing, not work the engine does. Time the host takes
    away from the virtual CPUs (steal) is in no process's CPU time, so
    this figure moves less with the neighbours' load than wall time
    (on a shared 4-vCPU host, up to 1.4x where wall time moved 2x).
    The compiler threads must outlive the run for their time to be
    subtracted (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, fields = _stat(f"/proc/{name}/stat")
        except (OSError, ValueError):
            continue  # exited while the table was read
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            total += t
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, fields = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except (OSError, ValueError):
            continue
        if comm.startswith(JIT_THREADS):
            total -= int(fields[11]) + int(fields[12])
    own = os.times()
    return total * _TICK_S + own.user + own.system


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


class Tracer:
    """Spans kept in memory and written out once at the end. Each span
    records name, start, end, parent and run id; spans of one operation
    share ``op``. Engine deltas are taken around every span."""

    def __init__(self, engine: Engine, run_id: str):
        self.engine = engine
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run_id": self.run_id, "op": op, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        before = self.engine.totals()
        rec["start"] = time.perf_counter() - T0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - T0
            rec["engine"] = Engine.delta(self.engine.totals(), before)
            self._stack.pop()

    def total(self, name: str, field: str = "s") -> float:
        """Sum over every span called ``name`` of its duration (``s``)
        or of one of its engine deltas."""
        out = 0.0
        for r in self.spans:
            if r["name"] == name:
                out += (r["end"] - r["start"]) if field == "s" else r["engine"][field]
        return out

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.spans if r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def noop(df, observe: bool = False) -> int | None:
    """Materialize a lazy plan (prefix) to the ``noop`` sink: full
    execution, nothing written. Returns its row count if observed."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = None
    if observe:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"]) if obs else None


@contextlib.contextmanager
def patched(owner, attr: str, wrap):
    """Replace ``owner.attr`` by ``wrap(original)`` for the duration of
    the block. Used only in traced runs, to time engine functions that
    other engine functions call, without editing the engine."""
    original = getattr(owner, attr)
    setattr(owner, attr, wrap(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    maximum when fewer than 22 samples leave no such percentile above
    the median."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) >= 22 else s[-1]


def tree_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and ``_`` files are
    Spark's commit markers and checksums, not data."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def data_files(path: str, suffix: str) -> set[str]:
    out = set()
    for dirpath, _, names in os.walk(path):
        out.update(
            os.path.join(dirpath, n) for n in names
            if n.endswith(suffix) and not n.startswith((".", "_"))
        )
    return out


def parquet_rows(files) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def table_stats(data_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of each generated table."""
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        files = sorted(data_files(os.path.join(data_dir, name), ".parquet")) \
            if os.path.isdir(os.path.join(data_dir, name)) \
            else [os.path.join(data_dir, name)]
        out[name[:-8]] = {
            "rows": parquet_rows(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return out


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"


def context(spark, seed: int, data_dir: str, load_start) -> dict:
    return {
        "nproc": nproc(),
        "master": master(),
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": seed,
        "tables": table_stats(data_dir),
        "git_commit": git_commit(),
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def log_exception(what: str) -> None:
    log(f"FAILED {what}:\n{traceback.format_exc()}")


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Run:
    """One benchmark invocation's session, counters and scratch space.
    Operations and checks are counted here: an exception or an output
    mismatch is a failure, recorded, and the run goes on."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.engine = Engine(spark)
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.result_hash: str | None = None  # of the last checked output
        self._dirs = 0

    def restart(self, master: str) -> None:
        """A new session on another master, in the same JVM."""
        self.spark.stop()
        self.spark = start_spark(self.work, master)
        self.engine = Engine(self.spark)

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{prefix}-{self._dirs}")

    @contextlib.contextmanager
    def operation(self, what: str, n: int = 1):
        """Count ``n`` attempted operations; if the block raises, all
        ``n`` count as failed."""
        self.attempted += n
        try:
            yield
        except Exception:
            self.failed += n
            self.problems.append(f"{what}: exception")
            log_exception(what)

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {problems[:4]}")
            log(f"CHECK FAILED {what}: {problems[:8]}")
        else:
            log(f"check ok: {what}")

    def checked(self, what: str, fn) -> None:
        """Run a check function that returns a problem list; an
        exception inside it is a failed check."""
        try:
            problems = fn()
        except Exception:
            log_exception(what)
            problems = ["exception"]
        self.check(what, problems)


class Pass:
    """One complete pass of a workload: its wall time from inputs
    present to complete result, the time of each operation in it and
    the input rows it consumed."""

    def __init__(self, wall_s: float, ops: list[float], rows: int):
        self.wall_s = wall_s
        self.ops = ops
        self.rows = rows


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it Spark's Python workers) to exit. PySpark's gateway
    process exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
