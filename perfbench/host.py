"""Spark session lifecycle and host readings for one benchmark process.

A benchmark process launches exactly one driver JVM, so its session begins
with cold codegen and empty dimension/matcher caches (both are keyed by
Spark application id). ``shutdown`` stops the session and waits until the
JVM has exited; its Python workers end with it.
"""

from __future__ import annotations

import os
import platform
from typing import Dict, List, Optional

CORES = 4
SHUFFLE_PARTITIONS = 8


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> List[int]:
    """``root`` and every live process below it."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[0] != "Z":
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def vmhwm_mb(pids: List[int]) -> float:
    """Summed kernel resident high-water mark (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_ticks() -> tuple:
    """(busy, idle, steal) aggregate jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    return user + nice + system + irq + softirq, idle + iowait, steal


def cpu_window(t0: tuple, t1: tuple) -> Dict[str, float]:
    busy, idle, steal = (b - a for a, b in zip(t0, t1))
    total = max(busy + idle + steal, 1)
    return {"busy_pct": round(100.0 * busy / total, 2), "steal_pct": round(100.0 * steal / total, 2)}


class Host:
    """Owns the benchmark's scratch directories and the current session."""

    def __init__(self, work_dir: str, repo_root: str):
        self.work_dir = work_dir
        self.spark = None
        self.jvm_pid: Optional[int] = None
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Workers import the product from the checkout; every file Spark,
        # the JVM or Python writes stays under the work directory.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
        os.environ["TMPDIR"] = tmp
        # A fixed, pre-touched heap (-Xms = max, AlwaysPreTouch): with a
        # growable one, G1's timing-driven expansion moved the JVM's VmHWM
        # by ±20 % between identical runs, and without pre-touch the share
        # of heap regions G1 happened to touch still moved it by ±4 %.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
            f"-Xms2g -XX:+AlwaysPreTouch -XX:MaxDirectMemorySize=4g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        )

    def launch(self):
        from pyspark import SparkContext

        from kg_microbe_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def peak_rss_mb(self) -> Dict[str, float]:
        """VmHWM in MB of the driver JVM and of each live process below it."""
        return {str(p): vmhwm_mb([p]) for p in descendants(self.jvm_pid)}

    def versions(self) -> Dict[str, str]:
        import pyspark

        java = self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        return {"java": str(java), "pyspark": pyspark.__version__, "python": platform.python_version()}

    def shutdown(self) -> None:
        """Stop the session, then end the driver JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = SparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
