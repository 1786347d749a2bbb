"""Host-fitted Spark session and the /proc RSS sampler.

The session mirrors ``bin/extract.py`` (Arrow on, AQE with coalescing and
skew join, the given shuffle partition count) with two host fits: the
master is ``local[k]`` with k no larger than the cores this process may
use, and the driver heap is sized from this host's RAM instead of a
fixed figure. Spark's scratch, warehouse, JVM temp files and (when
tracing) the event log all live under the benchmark's work directory.
"""
from __future__ import annotations

import os
import threading


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb(ram_bytes: int) -> int:
    """A quarter of RAM, between 1 and 4 GiB: the machine is shared, and
    the Python workers live outside the heap."""
    return max(1, min(4, ram_bytes // (4 << 30)))


def start(work_dir: str, cores: int, shuffle_partitions: int,
          event_log_dir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory",
                 f"{driver_memory_gb(host_ram_bytes())}g")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.abspath(tmp)}")
         .config("spark.local.dir", os.path.abspath(local))
         .config("spark.sql.warehouse.dir",
                 os.path.abspath(os.path.join(work_dir, "warehouse")))
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.abspath(event_log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies of all cpus from /proc/stat: the time the
    hypervisor gave this machine's vCPUs to other guests shows as steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(since: tuple[int, int]) -> float:
    """Share of cpu time stolen since the ``cpu_jiffies()`` reading."""
    steal, total = cpu_jiffies()
    return (steal - since[0]) / max(1, total - since[1])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root_pid: int):
    """``root_pid`` and all its live descendants."""
    kids = _children()
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        yield pid


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, with those of reaped children) of
    ``root_pid`` and all its live descendants. Time the hypervisor gave
    to other guests is steal, not part of it."""
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii",
                      errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat
        total += sum(int(v) for v in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the JVM's process tree (the driver JVM and the Python
    workers it forks) on a thread while running; ``peak_bytes`` is the
    largest sum seen."""

    def __init__(self, jvm_pid: int, period_s: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  tree_rss_bytes(self.jvm_pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.jvm_pid))


def stop_jvm(proc, timeout_s: float = 30.0) -> None:
    """pyspark's gateway JVM exits when its stdin closes; kill it if it
    has not within ``timeout_s``, and reap it either way."""
    import subprocess

    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    """pid of the driver JVM: pyspark's launcher process, which the
    spark-submit scripts replace with java via exec."""
    return spark.sparkContext._gateway.proc.pid
