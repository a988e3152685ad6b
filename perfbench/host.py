"""Host fingerprint, CPU steal and peak memory, read from /proc without a sampler.

Results from hosts with different fingerprints are not comparable: the
fingerprint travels with every result so a reader can tell them apart.
"""

from __future__ import annotations

import os
import platform
import resource


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of the driver JVM plus ru_maxrss of this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _status_kb(jvm_pid, "VmHWM") if jvm_pid else 0
    return (py_kb + jvm_kb) / 1024


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024**2, 1)
    return 0.0


SESSION_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.session.timeZone",
    "spark.default.parallelism",
)


def fingerprint(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow

    sc = spark.sparkContext
    conf = dict(sc.getConf().getAll())
    session = {k: spark.conf.get(k, None) or conf.get(k) for k in SESSION_KEYS}
    session["defaultParallelism"] = sc.defaultParallelism
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "cpu_model": _cpu_model(),
        "ram_gb": _mem_total_gb(),
        "java": sc._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "session": session,
    }
