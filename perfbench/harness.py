"""Run plumbing shared by the workloads: pinned Spark settings, the noop-sink
timer, memory sampling from /proc, the CPU canary and stopping every process
a run started."""

from __future__ import annotations

import os
import shlex
import signal
import statistics
import subprocess
import sys
import threading
import time


def pin_environment(root: str, work: str, cpus: int) -> dict:
    """Settings every run uses, exported before the JVM starts. Returns them
    for the run record.

    Spark runs `local[cpus]` with `cpus` shuffle partitions; the driver heap
    stays well below physical memory; shuffle, spill and temp files and the
    bucketed-ingest table stay inside the work directory; and the Python
    workers import the package from the checkout root, whatever the caller's
    working directory is. Both JVMs (Spark's launcher and its driver) run without
    the hsperfdata file HotSpot would otherwise keep under /tmp."""
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_SHUFFLE_PARTITIONS": str(cpus),
        # the inputs are tens of MB; the package default (16g) is above the
        # RAM of a 16 GB machine, and a small heap keeps the JVM's resident
        # size steady
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"),
                "--conf spark.ui.showConsoleProgress=false",
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(settings)
    return {**settings, "master": f"local[{cpus}]", "mem_total_kib": mem_kib}


def sink(df, observe: bool = False) -> tuple[float, int | None]:
    """Materialize `df` through the noop sink; → (seconds, rows or None).

    Every row and column is computed, unlike count(), which lets the
    optimizer prune derived columns. With `observe`, the row count rides the
    same job as an observed metric."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = None
    if observe:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t
    return dt, (int(obs.get["n"]) if obs is not None else None)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def canary_s() -> float:
    """Seconds for a fixed pure-Python loop: how busy the host's CPUs were
    around a run."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def _proc_bytes(pid: int, page: int) -> int:
    """Resident bytes of one process. The JVM (never forked) is read from
    statm; Python processes, which the worker daemon forks and which share
    copy-on-write pages with it, report their proportional share (Pss), so
    a burst of forks is not counted once per child."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * page
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat after the command name: [state, ppid, ...], or None
    once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid] + _descendants(root_pid):
        try:
            total += _proc_bytes(pid, page)
        except OSError:
            pass
    return total


def stop_processes(timeout: float = 30.0) -> None:
    """Stop every process this one started, directly or through another (the
    Spark JVM and its Python worker daemon), and wait until each has ended.

    The JVM is asked first, by closing its stdin, which the PySpark gateway
    treats as the signal to exit. Whatever is left, workers the JVM forked
    included, gets SIGTERM and then SIGKILL; each process is followed by its
    start time, so a reused pid is never signalled."""
    me = os.getpid()
    left = {pid: st[20] for pid in _descendants(me) if (st := _stat(pid)) is not None}
    context = sys.modules.get("pyspark.context")
    gateway = context.SparkContext._gateway if context is not None else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM is stopped below either way
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout / 2)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        context.SparkContext._gateway = None
        context.SparkContext._jvm = None

    def alive() -> list[int]:
        live = []
        for pid, start in list(left.items()):
            st = _stat(pid)
            if st is not None and st[20] == start and st[0] == "Z" and int(st[1]) == me:
                os.waitpid(pid, os.WNOHANG)
                st = _stat(pid)
            if st is None or st[20] != start or st[0] == "Z":
                del left[pid]
            else:
                live.append(pid)
        return live

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout / 4
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)


class RssSampler:
    """Peak summed resident memory of this process and its descendants (the
    driver JVM and the Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
