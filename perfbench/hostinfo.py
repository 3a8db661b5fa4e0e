"""Host-side readings from /proc: process-tree CPU, JVM peak RSS, CPU steal,
load average, and the environment block every result carries."""

from __future__ import annotations

import os
import platform
import subprocess
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``'s
    process tree plus this Python process."""
    t = os.times()
    total = t.user + t.system
    if root is not None:
        for pid in descendants(root):
            f = _stat_fields(pid)
            if f is not None:
                # utime stime cutime cstime are fields 14-17 of stat(5)
                total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def peak_rss_mb(pid: int | None) -> float:
    """VmHWM of ``pid`` in MiB (0 when unreadable)."""
    if pid is None:
        return 0.0
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def steal_ticks() -> int:
    """Host-wide steal ticks so far (the 8th counter of /proc/stat's cpu line)."""
    try:
        first = Path("/proc/stat").read_text().splitlines()[0].split()
        return int(first[8])
    except (OSError, IndexError, ValueError):
        return 0


def loadavg_1m() -> float:
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError):
        return -1.0


def stolen_cpus(ticks0: int, ticks1: int, seconds: float) -> float:
    """Average number of CPUs stolen by the hypervisor over ``seconds``."""
    return (ticks1 - ticks0) / _TICK / seconds if seconds > 0 else 0.0


def git_sha(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(root: Path) -> dict:
    """CPUs, versions and source revision while the gateway JVM is up (load
    and steal are added by the caller, which owns the run's start and end)."""
    import pyspark
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": git_sha(root),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": gw.jvm.java.lang.System.getProperty("java.version") if gw else None,
    }
