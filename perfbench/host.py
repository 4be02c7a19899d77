"""Host and process probes read from /proc: CPU time, peak RSS and load.

Everything here is a plain read of Linux procfs files, so it costs well under
a millisecond and needs no extra package.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
NPROC = os.cpu_count() or 1


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on; None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    return stat[stat.rfind(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (10 ms ticks)."""
    fields = _stat_fields("self")
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - int(fields[19]) / TICK
    return time.time() - age


def process_tree() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    tree = [os.getpid()]
    i = 0
    while i < len(tree):
        tree.extend(children.get(tree[i], []))
        i += 1
    return tree


def tree_cpu_seconds() -> float:
    """User + system CPU of the process tree, including reaped children.

    ``cutime``/``cstime`` only hold children a process has already waited
    for, so adding them to the live processes' own times counts each CPU
    second once."""
    total = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / TICK


def jvm_pid() -> int | None:
    """The Spark driver JVM started by this process (local mode)."""
    for pid in process_tree()[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def wait_for_exit(pids: list[int], timeout: float) -> None:
    """Poll until none of ``pids`` exists any more, for at most ``timeout``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in pids
    ):
        time.sleep(0.1)


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set size) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def load_sample() -> dict:
    """Runnable tasks and the 1-minute load average, absolute and per core,
    plus the host's cumulative CPU steal (time a hypervisor ran others)."""
    procs = steal = 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8])
            elif line.startswith("procs_running"):
                procs = int(line.split()[1])
                break
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "t": round(time.time(), 3),
        "procs_running": procs,
        "procs_per_core": round(procs / NPROC, 3),
        "load1": load1,
        "load1_per_core": round(load1 / NPROC, 3),
        "steal_s": steal / TICK,
    }


GATE_TIMEOUT_S = 5.0
GATE_INTERVAL_S = 0.5


def wait_for_quiet() -> dict:
    """Host-relative idle gate: wait (bounded) until two successive samples
    show no more runnable tasks than cores. The pass runs either way; the
    returned record says whether the gate opened and how long it waited."""
    t0 = time.monotonic()
    streak = 0
    while True:
        if load_sample()["procs_running"] <= NPROC:
            streak += 1
            if streak >= 2:
                return {"quiet": True, "waited_s": round(time.monotonic() - t0, 3)}
        else:
            streak = 0
        if time.monotonic() - t0 >= GATE_TIMEOUT_S:
            return {"quiet": False, "waited_s": round(time.monotonic() - t0, 3)}
        time.sleep(GATE_INTERVAL_S)


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024**2, 2)
    return 0.0


def git_commit(root: str) -> str:
    """HEAD of ``root``; "unknown" in a plain source checkout."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def effective_environment(spark, root: str) -> dict:
    """The settings a run actually used, read back from the live session."""
    import pyarrow

    conf = spark.sparkContext.getConf()

    def get(key: str) -> str | None:
        return conf.get(key, None)

    return {
        "nproc": NPROC,
        "ram_gb": ram_gb(),
        "master": spark.sparkContext.master,
        "driver_memory": get("spark.driver.memory"),
        "driver_extra_java_options": get("spark.driver.extraJavaOptions"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "max_partition_bytes": spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "aqe": {
            k: spark.conf.get(f"spark.sql.adaptive.{k}")
            for k in ("enabled", "coalescePartitions.enabled", "skewJoin.enabled")
        },
        "spark_version": spark.version,
        "pyarrow_version": pyarrow.__version__,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "python": sys.executable,
        "git_commit": git_commit(root),
    }
