"""Machine context and process counters, read from outside the program.

CPU seconds and peak memory come from ``/proc``: the benchmark's own
Python process plus every process it started (the JVM and its Python
workers) for CPU; the Python process plus the JVM for peak RSS.
"""

from __future__ import annotations

import os
import platform
import subprocess

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float]:
    with open(f"/proc/{pid}/stat") as fh:
        text = fh.read()
    fields = text[text.rindex(")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _CLK


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, _ = _stat(name)
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and its live descendants."""
    total = 0.0
    for pid in process_tree(root):
        try:
            total += _stat(str(pid))[1]
        except (OSError, ValueError, IndexError):
            continue
    return total


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_commit(root: str) -> str:
    try:
        # --git-dir keeps git from searching the parent directories
        out = subprocess.run(["git", "--git-dir", os.path.join(root, ".git"), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def context(spark, root: str, load_start: list[float]) -> dict:
    """The machine a result was measured on (wall time means nothing
    without it)."""
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "driver_java_options": spark.conf.get("spark.driver.extraJavaOptions", ""),
        "git_commit": git_commit(root),
    }
