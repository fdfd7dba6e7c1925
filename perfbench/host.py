"""Host facts, session sizing, process accounting and session lifetime.

Sizing comes from the host, not from constants: cores from the
scheduler affinity mask, driver heap as a fixed share of host (or
cgroup) memory, handed to ``pda_spark.session.get_spark`` through its
existing ``PDA_DRIVER_MEM`` variable.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time

HEAP_SHARE = 0.15  # of host RAM; the rest stays free for Python workers and neighbours
HEAP_MIN_MB, HEAP_MAX_MB = 1024, 8192


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
                break
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    mb = int(host_ram_bytes() * HEAP_SHARE) // (1024 * 1024)
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30, check=False
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def facts() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": cores(),
        "ram_bytes": host_ram_bytes(),
        "driver_mem_mb": driver_mem_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java_version(),
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


# ------------------------------------------------------------ processes


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        out[int(name)] = int(stat[stat.rfind(")") + 2 :].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (JVM + every descendant, i.e. the Python daemon and its
    workers) resident set size, sampled from /proc on a thread."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root = root_pid
        self.period = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = [self.root, *descendants(self.root)]
            self.peak = max(self.peak, sum(rss_bytes(p) for p in pids))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------- sessions


def start_session(work_dir: str, n_cores: int):
    """Launch a fresh JVM and build the engine's session on it."""
    from pda_spark.session import get_spark

    tmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    mem_mb = driver_mem_mb()
    os.environ["PDA_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # no hsperfdata files: a JVM writes them under /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        cores=n_cores,
        extra={
            # -Xms: the heap starts at its full size, so early requests do not
            # pay for heap growth and the warm-up curve is shorter
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_mb}m",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    # FATAL: Spark logs benign "non-existent accumulator" errors for
    # metrics of plans the Spark driver already dropped; real failures still
    # raise in Python
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the JVM and wait until it and every process it
    started (Python daemon and workers) are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the launcher exits when its parent's pipe closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
