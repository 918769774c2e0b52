"""Session, pass and gate helpers shared by the timed run (run.py) and the
traced run (layers.py)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SALTED = {"transcripts_mixed": False, "web_clustered": True}
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def host_sizing() -> dict:
    """CPUs from the affinity mask; driver heap a quarter of available
    memory, rounded down to a power of two GiB so that small swings in
    available memory do not change it, between 1 GiB and the 16 GiB
    session default."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    quarter_gib = max(1, avail_kb // (4 << 20))
    heap_mb = 1024 * min(16, 1 << (quarter_gib.bit_length() - 1))
    return {"cpus": len(os.sched_getaffinity(0)), "driver_heap_mb": heap_mb}


def isolate_env() -> None:
    """Point every scratch location of Python, Spark and the JVM into the
    checkout (the package zip and the native .so go to TMPDIR)."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(sizing: dict, event_log_dir: str | None = None):
    """``pipeline.build_session`` sized to the host, with Python workers
    warm on every core."""
    from anytomd_spark.pipeline import build_session

    cpus = sizing["cpus"]
    extra = {
        "spark.driver.memory": f"{sizing['driver_heap_mb']}m",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        master=f"local[{cpus}]", app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, cpus, 1, cpus).mapInPandas(
        lambda it: it, "id long").count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # the package zip build_session ships is named after this process
    zip_path = os.path.join(os.environ["TMPDIR"], f"anytomd_spark_{os.getpid()}.zip")
    if os.path.exists(zip_path):
        os.remove(zip_path)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the fields of ``/proc/<pid>/stat`` after the command name
    (index 1 is the parent pid, 11-14 utime, stime, cutime, cstime)."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        stats[int(name)] = stat[stat.rindex(")") + 2:].split()
    return stats


def _descendants(root: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out = []
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant (the JVM, the Python worker daemon and its workers),
    reaped descendants included through their parents' cutime/cstime.
    Most of the time the hypervisor steals from a vCPU is not in it."""
    stats = _proc_stats()
    me = os.getpid()
    ticks = 0
    for pid in [me] + _descendants(me, stats):
        fields = stats.get(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def host_steal_s() -> float:
    """Seconds the hypervisor has stolen from the kernel's vCPUs, summed
    over vCPUs, since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class RssSampler:
    """Peak summed resident memory of this process's descendants (the JVM
    and the Python workers it forks), sampled from /proc while running.
    The JVM counts its RSS; each Python worker counts its PSS, so pages a
    forked worker still shares with the daemon it was forked from are
    counted once. The JVM's PSS is not read: smaps_rollup walks its page
    tables, tens of milliseconds a sample, which perturbs the passes."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _kb(pid: int) -> int:
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as g:
                    return int(g.read().split()[1]) * PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    @classmethod
    def descendants_kb(cls, root: int) -> int:
        total = 0
        for pid in _descendants(root, _proc_stats()):
            try:
                total += cls._kb(pid)
            except OSError:
                continue
        return total

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.descendants_kb(me))
            self._stop.wait(self.interval)


class PassTimes(NamedTuple):
    wall_s: float
    cpu_s: float  # CPU seconds of this process and its descendants
    steal_s: float  # seconds stolen from the host's vCPUs meanwhile


def run_pass(spark, input_path: str, out_dir: str,
             salted: bool) -> tuple[PassTimes, dict]:
    """One timed production job: read the table, ``run_pipeline`` it into
    a fresh output and lineage location."""
    from anytomd_spark.pipeline import run_pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    cpu0, steal0 = tree_cpu_s(), host_steal_s()
    t0 = time.perf_counter()
    result = run_pipeline(
        spark, spark.read.parquet(input_path),
        os.path.join(out_dir, "out"), os.path.join(out_dir, "lineage"),
        salted=salted,
    )
    wall = time.perf_counter() - t0
    times = PassTimes(wall, tree_cpu_s() - cpu0, host_steal_s() - steal0)
    return times, result


def gate_pass(table, out_dir: str, result: dict, seed: int) -> list[str]:
    """Correctness of one pass; removes its output afterwards."""
    import gate

    try:
        return gate.check_pass(
            table, gate.read_output(os.path.join(out_dir, "out")),
            gate.read_lineage(os.path.join(out_dir, "lineage")),
            result, seed,
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
