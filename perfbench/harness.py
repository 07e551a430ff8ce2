"""Process-level plumbing for the benchmark: hermetic paths, the Spark
session, RSS sampling, Spark status-store reads and clean shutdown.

Everything the benchmark writes lives under one work directory inside the
checkout, removed when the run ends: Spark local dirs, the warehouse, the
JVM and Python temp dirs, the generated inputs and every job's output root.
"""

from __future__ import annotations

import contextlib
import os
import platform
import signal
import subprocess
import tempfile
import threading
import time

from py4j.protocol import Py4JJavaError


def cpu_count() -> int:
    """Cores this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def configure_paths(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at
    ``work``. Must run before the JVM starts: it inherits the environment."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR on next use


# At 2g, GC made the cascade's jobs slower and noisier; 8g grew peak memory
# by 2 GB for no gain (perfbench/README.md).
DRIVER_MEMORY = "4g"


def start_spark(work: str, cores: int):
    from smartlogic_concordance_transformer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # replaces get_spark's value, so its ParallelGC flag is repeated
            "spark.driver.extraJavaOptions": (
                "-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
            ),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kill_tree(proc: subprocess.Popen) -> None:
    """SIGKILL a child process and all its descendants, and wait until each
    has exited."""
    pids = descendants(proc.pid)
    for pid in [proc.pid, *pids]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    proc.wait()
    for pid in pids:
        while _alive(pid):
            time.sleep(0.05)


def _resident_bytes(pid: int) -> int:
    """PSS: resident pages, with each page shared by n processes counted 1/n
    in each, since forked Python workers share most of their pages with the
    daemon they fork from. The JVM's pages are private, so its RSS equals
    its PSS; it is read from statm, because smaps_rollup walks the whole
    multi-GB heap (tens of ms per read)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


# one sample costs about 10 ms of CPU on a 4-core 2.1 GHz VM, mostly the
# Python workers' smaps_rollup; at 2 Hz that stays under 1% of one core
SAMPLE_INTERVAL_S = 0.5


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python daemon and workers), summed as PSS so pages shared
    between forked workers count once, sampled on a background thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_resident_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            with self._lock:
                self._sample()

    @contextlib.contextmanager
    def paused(self):
        """No samples are taken inside this block."""
        with self._lock:
            yield

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def stage_stats(spark, group: str) -> dict:
    """Spark jobs, executor run time, shuffle write bytes and failed tasks
    of every job run under job group ``group``, read from the status
    store (populated with the UI disabled too)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    out = {"spark_jobs": len(jobs), "task_s": 0.0, "shuffle_bytes": 0, "failed_tasks": 0}
    seen: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped (shuffle reuse): never ran
                continue
            out["task_s"] += st.executorRunTime() / 1000.0
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["failed_tasks"] += st.numFailedTasks()
    return out


def environment(spark, cores: int, load1: float) -> dict:
    import pyspark

    return {
        "cpus": cores,
        "master": spark.sparkContext.master,
        "load1_at_start": load1,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:  # already stopped
        return
    spark.stop()
    proc = gateway.proc
    stragglers = descendants(os.getpid())
    gateway.shutdown()
    # the gateway JVM exits on EOF of its stdin
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in stragglers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
