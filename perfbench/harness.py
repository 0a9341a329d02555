"""Run plumbing: the Spark session, the process-tree RSS sampler, the
closed loop and the teardown that waits for every child process."""

from __future__ import annotations

import os
import tempfile
import threading
import time
from typing import Callable, Dict, List, Set, Tuple

HEAP = "2g"
YOUNG = "512m"
SHUFFLE_PARTITIONS = 8


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- /proc process tree ------------------------------------------------------


def _proc_table(proc: str) -> Dict[int, Tuple[int, int]]:
    """pid -> (ppid, start time in clock ticks after boot) for every
    process visible under ``proc``."""
    out: Dict[int, Tuple[int, int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name sits in parentheses and may itself hold spaces
        fields = stat.rsplit(")", 1)[1].split()
        out[int(name)] = (int(fields[1]), int(fields[19]))
    return out


def process_tree(root: int, proc: str = "/proc", min_age_s: float = 0.0) -> Set[int]:
    """``root`` and all its live descendants that have run for at least
    ``min_age_s``.  (A child the JVM spawns shares the JVM's address space
    until it execs, so in that instant it reports the JVM's whole RSS.)"""
    table = _proc_table(proc)
    kids: Dict[int, List[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    newest = None
    if min_age_s > 0:
        with open(os.path.join(proc, "uptime")) as fh:
            uptime = float(fh.read().split()[0])
        newest = (uptime - min_age_s) * os.sysconf("SC_CLK_TCK")
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in tree:
            continue
        tree.add(pid)
        todo.extend(
            k for k in kids.get(pid, []) if newest is None or table[k][1] <= newest
        )
    return tree


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident set size of one process, 0 if it has exited."""
    try:
        with open(os.path.join(proc, str(pid), "statm")) as fh:
            resident = int(fh.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0
    return resident * os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int, proc: str = "/proc", min_age_s: float = 0.0) -> int:
    return sum(rss_bytes(p, proc) for p in process_tree(root, proc, min_age_s))


class RssSampler:
    """Samples the RSS of a process tree on a background thread and keeps
    the peak.  Use as a context manager; ``peak_mb`` is valid after exit."""

    def __init__(self, root: int, interval_s: float = 0.2, proc: str = "/proc",
                 min_age_s: float = 1.0):
        self.root = root
        self.min_age_s = min_age_s
        self.interval_s = interval_s
        self.proc = proc
        self.peak = 0
        self.samples = 0
        # held across a whole scan, so a reset() cannot land between a
        # scan's start and the store of its result
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        """Forget the peak so far: the next samples start a new window."""
        with self._lock:
            self.peak = 0
            self.samples = 0

    def sample(self) -> None:
        with self._lock:
            rss = tree_rss_bytes(self.root, self.proc, self.min_age_s)
            self.peak = max(self.peak, rss)
            self.samples += 1

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def proc_io(pid: int, field: str = "wchar") -> int:
    """One counter from ``/proc/<pid>/io`` (bytes the process passed to
    write calls, for ``wchar``)."""
    with open(f"/proc/{pid}/io") as fh:
        for line in fh:
            key, _, value = line.partition(":")
            if key == field:
                return int(value)
    raise KeyError(field)


# --- Spark session -----------------------------------------------------------


def start_spark(work: str, repo_root: str):
    """One ``local[N]`` session, N = usable cores, with a fixed heap and
    shuffle-partition count, no UI and no progress bar.  Scratch space,
    the warehouse and JVM temp files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    # Python workers import the package under test from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        # The heap is committed at start but not touched, so peak RSS
        # follows the pages the heap really uses.  A fixed young
        # generation keeps G1's pause-time-driven sizing (and with it the
        # eden pages touched) from moving between runs.
        .config("spark.driver.extraJavaOptions",
                f"{java_opts} -Xms{HEAP} -Xmn{YOUNG}")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """``spark.stop()``, then end the JVM (closing the gateway's stdin is
    its exit signal) and wait until it and every process it started --
    the Python worker daemon and its workers -- have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    before = process_tree(me) - {me}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while True:
        alive = sorted(p for p in before if not _exited(p))
        if not alive:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive after stop: {alive}")
        time.sleep(0.05)


def _exited(pid: int) -> bool:
    """Gone, or a zombie waiting for its parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- Spark job accounting ----------------------------------------------------


def job_and_task_counts(spark, group: str) -> tuple[int, int]:
    """Spark jobs run under job group ``group``, and their tasks, from the
    status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks


# --- closed loop -------------------------------------------------------------


def closed_loop(op: Callable[[int], float], seconds: float, first_id: int,
                min_ops: int = 1) -> List[float]:
    """One client: start the next op only after the previous one
    returned, until ``seconds`` have passed (and at least ``min_ops``
    ran).  Returns each op's latency.  ``op`` times its own timed region
    and returns it, so checks after the op are not counted."""
    lat: List[float] = []
    t0 = time.perf_counter()
    i = first_id
    while len(lat) < min_ops or time.perf_counter() - t0 < seconds:
        lat.append(op(i))
        i += 1
    return lat


def dir_bytes(path: str, suffix: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    )


def count_files(path: str, suffix: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )
