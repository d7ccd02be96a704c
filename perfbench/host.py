"""Launch settings derived from the host, applied to the environment
before the JVM starts, and the host record attached to every result."""

from __future__ import annotations

import os
import shlex
import subprocess


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 4 << 30


def driver_mem_gb(mem_bytes: int) -> int:
    """A quarter of host RAM, between 1 and 4 GB: the workloads are
    small, and the JVM heap must stay far below physical memory."""
    return max(1, min(4, int(mem_bytes / (1 << 30) * 0.25)))


def launch_env(root: str, work: str, *, event_log_dir: str | None = None) -> dict[str, str]:
    """Environment for the engine's JVM and Python workers.

    Scratch files (Spark local dirs, JVM and Python temp files,
    checkpoints) stay under ``work``; ``root`` is put on the workers'
    ``PYTHONPATH`` so pickled UDFs can import the engine package."""
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--driver-java-options", java_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_log_dir is not None:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
            # one plain file per application (Spark 4 rolls by default)
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    submit.append("pyspark-shell")
    pythonpath = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb(mem_total_bytes())}g",
        "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    }


def commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_times() -> tuple[float, float]:
    """All CPU time and the stolen part of it, in seconds since boot,
    from ``/proc/stat`` (``(0, 0)`` where it cannot be read).  On a
    virtual machine the steal is the time other guests held the host's
    CPUs, which the guest's own load average does not show."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0.0, 0.0
    hz = os.sysconf("SC_CLK_TCK")
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user and nice)
    return sum(ticks[:8]) / hz, (ticks[7] if len(ticks) > 7 else 0) / hz


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time between two records that was stolen."""
    total = end["cpu_s"] - start["cpu_s"]
    return (end["steal_s"] - start["steal_s"]) / total if total > 0 else 0.0


def record(root: str) -> dict:
    cpu_s, steal_s = cpu_times()
    return {
        "commit": commit(root),
        "cores": cpu_count(),
        "ram_bytes": mem_total_bytes(),
        "driver_mem": f"{driver_mem_gb(mem_total_bytes())}g",
        "load_1m": os.getloadavg()[0],
        "cpu_s": cpu_s,
        "steal_s": steal_s,
    }
