"""The host and the processes a run starts: sizing, CPU accounting and
shutdown, all read from /proc."""

from __future__ import annotations

import os
import signal
import time


def fit_host() -> tuple[int, int]:
    """(cores, driver heap GB) for this host: the CPU affinity mask, and a
    quarter of the smaller of physical memory and the cgroup limit."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem = int(next(line for line in fh if line.startswith("MemTotal")).split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            mem = min(mem, int(fh.read().strip()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max" or absent)
        pass
    return cores, max(1, min(8, mem // 4 // 2**30))


def descendants(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                for c in fh.read().split():
                    out += [int(c), *descendants(int(c))]
    except OSError:
        pass
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, waiting for each process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    for pid in children:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def steal(before: list[int], after: list[int]) -> float:
    """The hypervisor's share of the host's CPU time between two
    ``cpu_now`` counter readings: time this VM's CPUs were ready to run
    but held by its neighbours."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def cpu_now(jvm: int) -> tuple[float, list[int]]:
    """(CPU seconds used so far by this process, the JVM and the JVM's
    children; the host's /proc/stat cpu counters)."""
    t = os.times()
    cpu = t.user + t.system
    tick = os.sysconf("SC_CLK_TCK")
    for pid in [jvm, *descendants(jvm)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            cpu += (int(f[11]) + int(f[12])) / tick
        except OSError:
            pass
    with open("/proc/stat") as fh:
        counters = [int(x) for x in fh.readline().split()[1:]]
    return cpu, counters


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
