"""Spark process environment for the benchmark: confinement of every file
Spark and its Python workers write to one work directory, session start
and stop through ``kgpipe.session.get_spark``, and a sampler of the Python
worker processes' resident memory.

The benchmark never changes kgpipe's session settings; what it adds goes
through ``PYSPARK_SUBMIT_ARGS`` (read once, when the JVM starts) or JVM
system properties (read by every new SparkContext), both from outside.
"""

from __future__ import annotations

import multiprocessing
import os
import shlex
import statistics
import threading
import time


def confine(root: str, work: str) -> None:
    """Point temp dirs, Spark's local dirs and the worker import path into
    *work* / *root*.  Must run before the JVM starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # driver heap: a deployment setting of kgpipe.session; the default (8g)
    # is more than a shared 4-CPU host should reserve for these inputs
    os.environ.setdefault("KGPIPE_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir;
        # -XX:-UseDynamicNumberOfCompilerThreads: JIT compiler threads live
        # as long as the JVM, so that CpuMeter sees all of their CPU time
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                  "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "pyspark-shell",
    ])


def start_session(master: str, partitions: int):
    """``kgpipe.session.get_spark`` on an explicit master and partition
    count, then one Python-worker round trip so that the worker pool is up.
    Returns ``(spark, seconds)``."""
    from kgpipe.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("kgbench", master=master, shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")

    def passthrough(batches):
        yield from batches

    n = spark.range(0, 10_000, 1, partitions).mapInPandas(
        passthrough, "id long").count()
    if n != 10_000:
        raise RuntimeError(f"worker warm-up returned {n} rows")
    return spark, time.perf_counter() - t0


def set_event_log(spark, log_dir: str | None) -> None:
    """Make every SparkContext created after this call write Spark's JSON
    event log into *log_dir* (None: write none).  JVM system properties
    are the SparkConf defaults of a new context."""
    system = spark.sparkContext._jvm.java.lang.System
    if log_dir is None:
        system.setProperty("spark.eventLog.enabled", "false")
        return
    os.makedirs(log_dir, exist_ok=True)
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", "file:" + os.path.abspath(log_dir))
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.rolling.enabled", "false")


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit (closing its stdin
    is the py4j gateway's shutdown signal)."""
    proc = jvm_process(spark)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def _reference_loop() -> float:
    t0 = time.thread_time()
    counts: dict[int, int] = {}
    h = 0
    for i in range(100_000):
        k = (i * 2654435761) & 0xFFFF
        counts[k] = counts.get(k, 0) + 1
        h ^= hash(str(k))
    return time.thread_time() - t0


def _speed_worker(conn, cpu: int) -> None:
    os.sched_setaffinity(0, {cpu})
    while conn.recv():
        conn.send(statistics.median(_reference_loop() for _ in range(3)))
    conn.close()


class HostSpeed:
    """Times a fixed pure-Python loop (dict updates, integer hashing and
    string formatting; no kgpipe code) on every CPU at once, in one
    process pinned to each, forked at construction.  ``measure()`` returns
    the loop's mean CPU seconds: about 0.03 s on an idle 4-vCPU Xeon VM,
    and twice that when other tenants load the host, which slows every CPU
    second of the pipeline alike (steal is not counted in CPU time; a busy
    sibling hyperthread, a shared cache or a lower clock is)."""

    def __init__(self):
        ctx = multiprocessing.get_context("fork")
        self._conns = []
        self._procs = []
        for cpu in sorted(os.sched_getaffinity(0)):
            parent, child = ctx.Pipe()
            proc = ctx.Process(target=_speed_worker, args=(child, cpu),
                               daemon=True)
            proc.start()
            child.close()
            self._conns.append(parent)
            self._procs.append(proc)

    def measure(self) -> float:
        for conn in self._conns:
            conn.send(True)
        return statistics.mean(conn.recv() for conn in self._conns)

    def close(self) -> None:
        for conn in self._conns:
            try:
                conn.send(False)
            except OSError:
                pass
        for proc in self._procs:
            proc.join(timeout=10)
            if proc.is_alive():
                proc.kill()
                proc.join()


class CpuSteal:
    """Share of the host's CPU time taken by the hypervisor (``steal`` in
    /proc/stat) since construction: stamped on results so that runs slowed
    by other tenants of the machine can be told apart."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7], sum(fields)

    def share(self) -> float:
        steal, total = self._read()
        return (steal - self.start[0]) / max(1, total - self.start[1])


_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process *root* and every
    process under it, exited-and-reaped children included.  Time the
    hypervisor gave to other tenants (steal) is not in it."""
    kids = _children()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in _stat_fields(pid)[11:15])
        except OSError:
            pass
    return total / _HZ


def _jit_cpu_s(jvm_pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread of the JVM."""
    out = {}
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat.rsplit(")", 1)[1].split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / _HZ
    return out


class CpuMeter:
    """CPU seconds used between ``start()`` and ``stop()`` by this process
    and every process under it (the JVM and the Python workers), less the
    JVM's JIT compiler threads (kept in ``jit_s``): how much the JIT
    compiles in one job swings with which methods cross its thresholds
    during it, by several seconds from job to job.  A compiler thread
    that exited during the interval would leave its CPU counted, so
    ``confine`` keeps the JVM from stopping them."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jit_s = 0.0

    def start(self) -> None:
        self._tree = tree_cpu_s(os.getpid())
        self._jit = _jit_cpu_s(self.jvm_pid)

    def stop(self) -> float:
        tree = tree_cpu_s(os.getpid()) - self._tree
        self.jit_s = sum(c - self._jit.get(tid, 0.0)
                         for tid, c in _jit_cpu_s(self.jvm_pid).items())
        return tree - self.jit_s


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_mb(pid: int) -> float:
    """Proportional resident set size: resident pages, each shared page
    divided among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark" in fh.read()
    except OSError:
        return False


class WorkerRss:
    """Samples the resident memory of the PySpark Python processes under
    the JVM (the daemon and its forked workers) every *period* seconds
    between ``begin()`` and ``end()``; ``peaks_mb`` holds each interval's
    largest sum.  Memory is counted as PSS: the workers are forks of one
    daemon, and summing plain RSS would count every copy-on-write page
    once per worker, so the sum would follow how many idle workers happen
    to exist."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peaks_mb: list[float] = []
        self.peak_processes = 0
        self._current = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> tuple[float, int]:
        kids = _children()
        total, n = 0.0, 0
        stack = list(kids.get(self.jvm_pid, ()))
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, ()))
            if _is_python(pid):
                total += _pss_mb(pid)
                n += 1
        return total, n

    def begin(self) -> None:
        with self._lock:
            self._current = 0.0
        self._active.set()

    def end(self) -> None:
        self._active.clear()
        mb, n = self.sample()  # the interval's last state counts too
        with self._lock:
            self.peaks_mb.append(max(self._current, mb))
            self.peak_processes = max(self.peak_processes, n)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(self.period) and not self._stop.is_set():
                mb, n = self.sample()
                with self._lock:
                    self._current = max(self._current, mb)
                    self.peak_processes = max(self.peak_processes, n)
                time.sleep(self.period)

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=10)
