"""Process-level plumbing: launch environment, peak-RSS sampling, host
context recorded next to every sample, and Spark teardown."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
import subprocess
from pathlib import Path


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def launch_env(root: Path, work: Path) -> None:
    """Environment every Spark process inherits.  Set before the JVM
    starts: the Python worker daemon imports the engine package by
    module name, so the checkout root must be on its PYTHONPATH, and
    every scratch file (Spark local dirs, JVM and Python temp files)
    stays inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the stream source and the pipeline resolve relative paths against
    # the working directory; keep any stray output (spark-warehouse,
    # derby logs) in the scratch area too
    os.chdir(work)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: the ppid follows ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, each with its reaped children: the difference
    across a job is the job's CPU cost, JVM and Python workers alike."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                # after the command name: utime stime cutime cstime
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _TICK


def _rss_bytes(pid: int) -> int:
    """Resident set size from /proc/<pid>/status.  Unlike smaps_rollup
    (which gives PSS) it is read from the kernel's counters without
    taking the process's memory-map lock, so sampling never stalls the
    JVM.  Pages that forked Python workers share with their daemon are
    counted once per worker."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory of this process's descendants
    -- the Spark driver JVM, the Python worker daemon and its forked
    workers -- on a daemon thread and keeps the peak.  The peak is run
    context, not a metric: a coarse interval keeps the sampler off the
    cores the timed jobs run on."""

    INTERVAL_S = 1.0

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  sum(_rss_bytes(p) for p in descendants()))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6


def calibration_s() -> float:
    """Fixed pure-CPU work (median of three): host drift shows up here
    without any change to the engine."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for i in range(60_000):
            h.update(i.to_bytes(8, "little"))
        sum(i * i for i in range(300_000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def code_version(root: Path) -> dict:
    """The commit when the checkout carries git metadata, plus a hash
    of the engine sources, which identifies the code either way."""
    h = hashlib.sha256()
    for p in sorted((root / "deduplication_and_compression_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    out = {"source_sha256": h.hexdigest()[:16], "git_commit": None}
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref = (root / ".git" / ref[5:]).read_text().strip()
        out["git_commit"] = ref
    except OSError:
        pass
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat:
    the share of a run's CPU time the hypervisor gave to other guests
    shows how busy the shared host was during that run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # the guest times already counted in user and nice
    return fields[7], sum(fields[:8])


def host_context(root: Path) -> dict:
    mem_mb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    return {
        "nproc": host_cores(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "mem_total_mb": mem_mb,
        "calibration_s": round(calibration_s(), 4),
        **code_version(root),
    }


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    process this run started (JVM, worker daemon, workers) to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants() and time.monotonic() < deadline + 5:
        time.sleep(0.1)

