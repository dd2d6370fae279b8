"""Shared harness pieces: session lifetime, process-tree accounting, spans,
job counting, box fingerprint and small statistics helpers.

Nothing here reaches into the package under test beyond its public
``session.get_spark``; every layer is timed from outside by the workload
modules.
"""

from __future__ import annotations

import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
# every file the benchmark writes lives under the checkout, in one ignored dir
OUT = REPO / ".perfbench"

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# box
# ---------------------------------------------------------------------------

def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """Half the box's memory, capped at 8g: the session's 24g default is
    larger than a 15 GB box, and local mode runs every task in this heap."""
    return f"{max(2, min(8, int(mem_total_gib() // 2)))}g"


def git_commit() -> str | None:
    """HEAD of the checkout, or None where it is not a git work tree."""
    if not (REPO / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(REPO), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def fingerprint(spark, seed: int) -> dict:
    import pyspark

    return {
        "nproc": ncpus(),
        "mem_total_gib": round(mem_total_gib(), 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "git_commit": git_commit(),
        "seed": seed,
    }


# ---------------------------------------------------------------------------
# session lifetime
# ---------------------------------------------------------------------------

def start_session(work: Path):
    """One ``local[nproc]`` session through the package's own factory.
    Scratch (shuffle, spill, JVM and Python temp files) stays under
    ``work`` so a run writes nothing outside its checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    from logsight_filebeat_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ncpus()}]",
        extra_conf={
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # prepended to the session's own extraJavaOptions, not replacing them
            "spark.driver.defaultJavaOptions": jvm_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the gateway JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    for pid in tree:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    break
                deadline = time.time() + timeout
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


# ---------------------------------------------------------------------------
# process-tree accounting
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU-seconds of this process and everything under it (driver JVM,
    Python workers), reaped children included."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this box's
    CPUs: host contention that inflates every wall-clock figure."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        s = self.spans[sid]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == sid
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (s["end"] - s["start"]) - covered

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


# ---------------------------------------------------------------------------
# Spark helpers
# ---------------------------------------------------------------------------

class JobCounter:
    """Counts the Spark jobs an operation launches from outside, through a
    job group on the calling thread and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def failed_tasks(self, gid: str) -> int:
        tracker = self.sc.statusTracker()
        n = 0
        for jid in self.jobs(gid):
            job = tracker.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                st = tracker.getStageInfo(sid)
                n += st.numFailedTasks if st else 0
        return n


def noop(df) -> None:
    """Run ``df`` to completion without keeping or collecting its rows."""
    df.write.mode("overwrite").format("noop").save()


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker and checksum
    files excluded."""
    nbytes = nfiles = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            nbytes += p.stat().st_size
            nfiles += 1
    return nbytes, nfiles


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def strip_expr_ids(plan: str) -> str:
    """Drop Catalyst expression ids (``#123``) so a plan's length depends
    on its shape, not on how many expressions the session made before."""
    return re.sub(r"#\d+L?", "#", plan)
