"""Measurements taken from outside the program: file system walks, /proc
memory and CPU counters, and the order statistics the report uses."""

from __future__ import annotations

import math
import os


# -- storage -----------------------------------------------------------------

def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``roots``."""
    files: dict[str, tuple[int, int]] = {}
    for root in roots:
        for d, _dirs, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                files[p] = (st.st_size, st.st_mtime_ns)
    return files


def added_bytes(before: dict, after: dict, prefix: str = "") -> int:
    """Bytes of files under ``prefix`` that are new or rewritten."""
    return sum(size for p, (size, mt) in after.items()
               if p.startswith(prefix) and before.get(p) != (size, mt))


def total_bytes(snap: dict, prefix: str = "") -> int:
    return sum(size for p, (size, _) in snap.items() if p.startswith(prefix))


# -- memory and host ---------------------------------------------------------

def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK = os.sysconf("SC_CLK_TCK")
#: the JVM's own runtime threads (``comm`` is cut to 15 characters): the
#: just-in-time compilers, and the garbage collector with the VM thread
#: that runs its pauses
_RUNTIME_THREADS = {"C1 CompilerThre": "jit", "C2 CompilerThre": "jit",
                    "GC Thread": "gc", "G1 ": "gc", "VM Thread": "gc"}


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):  # the process or thread has just exited
        return None


def group_cpu(pgid: int) -> dict[str, float]:
    """CPU seconds (user + system, reaped children included) used so far
    by the processes of group ``pgid`` — the Python driver, the JVM and
    the Python workers — split into ``jit`` and ``gc`` (the JVM's runtime
    threads above) and ``program`` (every other thread). Time the
    hypervisor steals is in none of them."""
    ticks = {"program": 0, "gc": 0, "jit": 0}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        rest = _stat(f"/proc/{pid}/stat")
        if rest is None or int(rest[2]) != pgid:
            continue
        ticks["program"] += sum(int(x) for x in rest[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    comm = fh.read()
            except OSError:
                continue
            kind = next((k for prefix, k in _RUNTIME_THREADS.items()
                         if comm.startswith(prefix)), None)
            t = _stat(f"/proc/{pid}/task/{tid}/stat") if kind else None
            if t is not None:
                ticks[kind] += int(t[11]) + int(t[12])
                ticks["program"] -= int(t[11]) + int(t[12])
    return {k: v / _TICK for k, v in ticks.items()}


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, sys_, idle, iowait, irq, softirq = f[:7]
    steal = f[7] if len(f) > 7 else 0
    busy = user + nice + sys_ + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def steal_pct(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> float:
    total = t1[2] - t0[2]
    return 100.0 * (t1[1] - t0[1]) / total if total > 0 else 0.0


# -- order statistics ----------------------------------------------------------

def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None when there are fewer than 11 samples.
    With n samples that is the order statistic of rank n - 10."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(xs)[k - 1]


def fmt(v: float) -> str:
    return "nan" if v is None or math.isnan(v) else f"{v:.6g}"
