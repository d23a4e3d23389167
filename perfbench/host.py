"""Host facts, input sizing and memory readings."""

from __future__ import annotations

import os
import platform
import subprocess


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def sizing() -> dict:
    """Heap and input scale from the host: the heap is a quarter of
    MemAvailable (1–4 GB, the range the engine is meant to stay bounded
    in), and inputs halve on hosts with under 6 GB available. Both come in
    coarse steps so that run-to-run drift in MemAvailable does not change
    the inputs of a seed."""
    nproc = len(os.sched_getaffinity(0))
    avail_gb = meminfo_kb("MemAvailable") / 1024 / 1024
    heap_gb = max(1, min(4, int(avail_gb / 4)))
    scale = 1.0 if avail_gb >= 6 else 0.5 if avail_gb >= 3 else 0.25
    return {"nproc": nproc, "mem_available_gb": round(avail_gb, 2), "heap_gb": heap_gb, "input_scale": scale}


def host_info(root: str) -> dict:
    import pyarrow
    import pyspark

    shm = os.statvfs("/dev/shm") if os.path.exists("/dev/shm") else None
    disk = os.statvfs(root)
    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        **sizing(),
        "dev_shm_free_gb": round(shm.f_bavail * shm.f_frsize / 2**30, 2) if shm else None,
        "work_disk_free_gb": round(disk.f_bavail * disk.f_frsize / 2**30, 2),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
    }


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus every process below it (the Python workers)."""
    root = jvm_pid(spark)
    if root is None:
        return float("nan")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0
