"""Run one workload: start a fresh Spark session, stage, warm up, measure a
closed loop of checked jobs, optionally trace, and shut everything down.

A run is one process on ``local[N]``. The loop has one client: a job
starts only after the previous job has finished and been checked.
"""

from __future__ import annotations

import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

from spatialbench.trace import Tracer
from spatialbench.workloads import PER_LAYER_UNITS

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# a median needs a few jobs even when they outlast the window; the first
# jobs after the warm-up still run slower while the JIT compiles
MIN_JOBS = 4
# a reduced job does the cold compile and worker boot cheaply, a full one
# takes the JIT most of the way to steady state
WARMUP_SCALES = (0.125, 1.0)


def _resident_bytes(pid: int, proportional: bool) -> int:
    """Resident size of one process; ``proportional`` splits pages shared
    between forked processes among them (PSS) instead of counting them in
    each. PSS costs a page-table walk, so it is read only where needed."""
    try:
        if not proportional:
            with open(f"/proc/{pid}/statm", "rb") as f:
                return int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited meanwhile
        pass
    return 0


def _is_pyspark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu ticks incl. reaped children)}."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        f = raw[raw.rindex(b")") + 2:].split()
        out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcessTree:
    """CPU time and resident memory of this process and everything it
    started: the driver, the JVM and the Python workers. A sampler thread
    keeps the peak resident size (reset with ``peak_rss = 0``) and the
    worker processes seen."""

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_detail: dict[str, int] = {}  # bytes per pid at the peak
        self.workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the live tree and its reaped children."""
        table = _proc_table()
        pids = [self.root] + descendants(table, self.root)
        return sum(table[p][1] for p in pids if p in table) / _CLK

    def _sample(self) -> None:
        checked: set[int] = set()
        daemons: set[int] = set()
        while not self._stop.wait(self.interval_s):
            table = _proc_table()
            pids = [p for p in [self.root] + descendants(table, self.root) if p in table]
            for p in pids:
                if p not in checked and table[p][0] not in daemons:
                    checked.add(p)
                    if _is_pyspark_daemon(p):
                        daemons.add(p)
            # the daemon forks one worker per Python task slot; forked
            # workers share the daemon's pages, so they count by PSS
            forked = daemons | {p for p in pids if table[p][0] in daemons}
            self.workers |= forked - daemons
            sizes = {p: _resident_bytes(p, p in forked) for p in pids}
            if sum(sizes.values()) > self.peak_rss:
                self.peak_rss = sum(sizes.values())
                self.peak_detail = {str(p): sizes[p] for p in pids}

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def wait_children_exit(self, timeout_s: float) -> list[int]:
        """Wait for every descendant to exit; kill what is left after
        ``timeout_s``. Returns the pids that had to be killed."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            left = descendants(_proc_table(), self.root)
            if not left:
                return []
            time.sleep(0.1)
        left = descendants(_proc_table(), self.root)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in left:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:  # not our direct child: init reaps it
                pass
        return left


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def filesystem_type(path: str) -> str:
    """Type of the filesystem holding ``path``, from /proc/mounts."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_session(workdir: str, cores: int):
    """A fresh session on ``local[cores]``. The JVM and the Python workers
    it forks inherit the environment set here: workers import the engine
    from the repository whatever the working directory, and scratch files
    stay under ``workdir``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    from gdal_spark.session import get_spark

    spark = get_spark(
        "spatialbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            # a fixed-size heap: the resident size then does not depend on
            # when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, tree: ProcessTree) -> list[int]:
    """Stop the session, the gateway JVM and the Python workers, and wait
    for all of them to exit, so no later run shares a warm JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on EOF
        jvm.wait(timeout=60)
    return tree.wait_children_exit(timeout_s=30)


def quantiles(xs: list[float]) -> dict:
    """Median, plus the highest common percentile that has at least ten
    samples beyond it (None when there are too few), and the count."""
    xs = sorted(xs)
    n = len(xs)
    tail = None
    for p in (50, 90, 95, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            tail = {"pct": p, "value": xs[min(n - 1, int(n * p / 100))]}
    return {"p50": statistics.median(xs), "tail": tail, "n": n}


def run_jobs(wl, spark, tree, workdir, seconds, min_jobs, tracer_for) -> tuple[list[dict], float]:
    """Closed loop for ``seconds``, at least ``min_jobs`` jobs. ``tracer_for(i)``
    gives job i's tracer. Returns the job records and the window length."""
    jobs = []
    t_start = time.perf_counter()
    while len(jobs) < min_jobs or time.perf_counter() - t_start < seconds:
        i = len(jobs)
        jobdir = os.path.join(workdir, "jobs", f"job-{i}")
        tr = tracer_for(i)
        cpu0 = tree.cpu_s()
        t0 = time.perf_counter()
        rec = {"traced": tr.enabled}
        try:
            rec["ok"] = bool(wl.check(wl.job(spark, tr, jobdir)))
        except Exception:  # a job that raises counts as failed, the loop goes on
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree.cpu_s() - cpu0
        if tr.enabled:
            rec["spans"] = tr.spans
            rec["plans"] = tr.plans
        jobs.append(rec)
        shutil.rmtree(jobdir, ignore_errors=True)
    return jobs, time.perf_counter() - t_start


def host_info(spark, workdir: str, cores: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "machine": platform.machine(),
        "staging_fs": filesystem_type(workdir),
    }


def run(workload_cls, seed: int, seconds: int, trace: bool, workdir: str) -> dict:
    """One benchmark run. Returns the run record; ``record["result"]`` is
    the result object that ``run.py`` prints last."""
    cores = min(4, os.cpu_count() or 1)
    wl = workload_cls(seed, cores)  # inputs and expected answer, before Spark
    shutil.rmtree(workdir, ignore_errors=True)
    for d in ("spark-local", "tmp", "jobs"):
        os.makedirs(os.path.join(workdir, d))

    tree = ProcessTree()
    tree.start()
    t0 = time.perf_counter()
    spark = start_session(workdir, cores)
    t1 = time.perf_counter()
    try:
        wl.stage(spark, workdir)
        t2 = time.perf_counter()
        for i, scale in enumerate(WARMUP_SCALES):
            warmdir = os.path.join(workdir, "jobs", f"warm-{i}")
            wl.job(spark, Tracer(spark, False), warmdir, scale)
            shutil.rmtree(warmdir, ignore_errors=True)
        t3 = time.perf_counter()
        setup = {"start_s": t1 - t0, "stage_s": t2 - t1, "warmup_s": t3 - t2}
        # traced runs interleave untraced and traced jobs (u t t u u t t u ...)
        # so the tracing overhead is measured in the same process and window
        # and the early jobs' JIT warm-up falls on both sides
        tree.peak_rss = 0  # the peak of the measured jobs, not of staging
        ticks0 = _cpu_ticks()
        jobs, window = run_jobs(
            wl, spark, tree, workdir, seconds, MIN_JOBS,
            lambda i: Tracer(spark, trace and i % 4 in (1, 2)),
        )
        ticks1 = _cpu_ticks()
        peak_rss, peak_detail = tree.peak_rss, tree.peak_detail
        probe = wl.probe(spark, workdir) if trace else {}
        host = host_info(spark, workdir, cores)
        # CPU time the hypervisor gave to other guests while we measured
        host["steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    finally:
        tree.stop()
        killed = stop_session(spark, tree)
    shutil.rmtree(workdir, ignore_errors=True)

    plain = [j for j in jobs if not j["traced"]]
    ok = [j for j in jobs if j["ok"]]
    job_s = quantiles([j["wall_s"] for j in plain])
    cpu_s = quantiles([j["cpu_s"] for j in plain])
    setup_s = setup["start_s"] + setup["stage_s"] + setup["warmup_s"]
    if trace:
        layer = {k: 0.0 for k in PER_LAYER_UNITS}
        layer.update(probe)
        layer["session.start_s"] = setup["start_s"]
        layer["session.warmup_s"] = setup["warmup_s"]
        layer["session.python_workers_started"] = len(tree.workers)
        traced = [j["wall_s"] for j in jobs if j["traced"]]
        layer["trace.overhead_ratio"] = statistics.median(traced) / job_s["p50"]
        metrics = {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {
            "throughput": {"value": len(ok) * wl.units_per_job() / window, "unit": "units/s"},
            "job_s.p50": {"value": job_s["p50"], "unit": "s"},
            "job_cpu_s.p50": {"value": cpu_s["p50"], "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_ratio": {"value": len(ok) / len(jobs), "unit": "ratio"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
    failed = len(jobs) - len(ok)
    return {
        "workload": wl.name,
        "seed": seed,
        "trace": int(trace),
        "seconds": seconds,
        "host": host,
        "sizes": wl.sizes,
        "throughput_unit": f"{wl.unit}/s",
        "setup": setup,
        "window_s": window,
        "job_s": job_s,
        "job_cpu_s": cpu_s,
        "jobs": jobs,
        "peak_rss_by_pid": peak_detail,
        "killed_at_exit": killed,
        "result": {
            "correct": failed == 0,
            "attempted": len(jobs),
            "failed": failed,
            "metrics": metrics,
        },
    }
