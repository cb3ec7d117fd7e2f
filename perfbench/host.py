"""Host fingerprint, host canaries and memory high-water marks.

These are recorded next to every result so a slow host window can be
told apart from a slow program; nothing here rescales a metric.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import time

_WATCHED = ("java", "pytest", "driver_sim")


def _proc_status(pid: int, key: str) -> float:
    """A ``kB`` field of /proc/<pid>/status, in MB (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Driver JVM ``VmHWM`` plus this Python process's ``VmHWM``."""
    return _proc_status(jvm_pid, "VmHWM") + _proc_status(os.getpid(), "VmHWM")


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _git(root: str) -> tuple[str | None, bool | None]:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None, None
    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", root, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None, None
    return sha, bool(dirty)


def other_processes(own: set[int]) -> list[str]:
    """Other running JVM, pytest or driver_sim processes: any of them
    competes for the cores being measured."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in own:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
        except OSError:
            continue
        # the program and its first arguments, so that a shell whose
        # command line merely mentions one of the names does not count
        if any(os.path.basename(a).split(".")[0] in _WATCHED for a in argv[:3]):
            found.append(f"{name}: {' '.join(argv)[:160]}")
    return found


def fingerprint(spark, root: str, jvm_pid: int) -> dict:
    import pyspark

    sha, dirty = _git(root)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_mem_total_mb(), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "git_sha": sha,
        "git_dirty": dirty,
        "other_processes": other_processes({os.getpid(), jvm_pid}),
    }


def canaries(spark) -> dict[str, float]:
    """``canary_jvm_s``: one fixed 200M-row JVM aggregate (throughput).
    ``canary_job_ms``: median of ten trivial one-task jobs (per-job
    scheduling latency, which the big job cannot see)."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(CAST(id AS DOUBLE) * id)").collect()
    jvm_s = time.perf_counter() - t0
    per_job = []
    for _ in range(10):
        t0 = time.perf_counter()
        spark.range(1).count()
        per_job.append(time.perf_counter() - t0)
    return {
        "canary_jvm_s": jvm_s,
        "canary_job_ms": statistics.median(per_job) * 1000.0,
    }
