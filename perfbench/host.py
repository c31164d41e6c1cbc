"""Machine facts and host counters, read from /proc with the standard library:
core count, memory, CPU busy/steal shares, and the benchmark process tree's
resident memory."""

from __future__ import annotations

import ctypes
import os
import platform
import shutil
import threading


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def meminfo() -> dict[str, int]:
    """/proc/meminfo in bytes."""
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            parts = v.split()
            out[k] = int(parts[0]) * (1024 if parts[1:] == ["kB"] else 1)
    return out


def driver_heap_mb() -> int:
    """Driver heap sized from RAM: a quarter of total memory, between 1 GiB
    and 4 GiB (the JVM, its off-heap Arrow buffers and one Python worker per
    core share the rest). Fixed per machine, whatever else is running."""
    total = meminfo()["MemTotal"] // (1 << 20)
    return max(1024, min(4096, total // 4))


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        first = f.readline().split()
    return [int(x) for x in first[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy and steal shares of all CPU time between two samples. Fields are
    user nice system idle iowait irq softirq steal [guest guest_nice]; guest
    time is already inside user, so it is not added again."""
    d = [b - a for a, b in zip(before, after)][:8]
    total = sum(d)
    if total <= 0:
        return {"cpu_busy_frac": 0.0, "steal_frac": 0.0}
    idle = d[3] + d[4]
    return {"cpu_busy_frac": (total - idle - d[7]) / total,
            "steal_frac": d[7] / total}


def children(pid: int) -> list[int]:
    """Direct children of ``pid``, from every thread's /proc children list."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no Pss in /proc/{pid}/smaps_rollup")


_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def same_address_space(a: int, b: int) -> bool:
    """True if processes ``a`` and ``b`` share one address space, as a
    vfork'ed child does with its parent until it execs (Linux ``kcmp``)."""
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(ctypes.c_long(_SYS_KCMP), ctypes.c_long(a), ctypes.c_long(b),
                         ctypes.c_long(_KCMP_VM), ctypes.c_long(0), ctypes.c_long(0)) == 0


def tree_rss(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and all its descendants (driver, JVM and
    Python workers), in bytes by ``pid:command``, with every page counted
    once: a page that forked processes share is split among them (PSS), and
    a child that still runs in its parent's address space (the JVM spawns
    its helpers by vfork) adds nothing."""
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f"{pid}:{f.read().strip()}"
            if parent is None or not same_address_space(pid, parent):
                out[name] = _pss(pid)
        except OSError:
            continue
        todo.extend((c, pid) for c in children(pid))
    return out


class RssSampler:
    """Samples the process tree's resident memory on a background thread and
    keeps the peak, with each process's share of it. Use as a context
    manager; the thread is joined on exit."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            procs = tree_rss(pid)
            if sum(procs.values()) > self.peak_bytes:
                self.peak_bytes, self.peak_procs = sum(procs.values()), procs
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def machine_facts(work_dir: str) -> dict:
    """What the result was measured on; stored with every result."""
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    mem = meminfo()
    return {
        "cores": cores(),
        "cpu_model": model,
        "mem_total_gb": mem["MemTotal"] / 2**30,
        "mem_available_gb": mem["MemAvailable"] / 2**30,
        "work_dir_free_gb": shutil.disk_usage(work_dir).free / 2**30,
        "kernel": platform.release(),
        "python": platform.python_version(),
    }
