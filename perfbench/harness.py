"""Run-time plumbing shared by the workloads: the Spark session's
lifecycle, the closed-loop timer, peak RSS and small stats helpers."""

from __future__ import annotations

import os
import statistics
import time

def median(values: list[float]) -> float:
    return statistics.median(values)


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, skipping checksum files."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from ``/proc/stat``:
    the share a run's interval spent stolen by other guests of the host
    explains run-to-run swings that no code change made."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, the
    reaped ones included (user + system; time stolen by the host is
    not charged)."""
    kids = _children()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_bytes(root: int) -> int:
    """Summed peak resident set (``VmHWM``) of ``root`` and its live
    descendants: the python driver, the JVM and Spark's python
    workers. Read once, so no sampler thread competes with the run."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total


class Session:
    """Owns the run's SparkSession: built with ``session.get_spark``
    pinned to ``cpus`` task threads (shuffle partitions follow), and
    restartable so set-up can be repeated from a fresh context."""

    def __init__(self, cpus: int, extra_conf: dict[str, str] | None):
        self.cpus = cpus
        self.extra_conf = extra_conf
        self.spark = None

    def start(self):
        from tiki_data_pipeline_spark import session

        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            shuffle_partitions=self.cpus,
            extra_conf=self.extra_conf,
        )
        return self.spark

    def close(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM (and
        with it Spark's python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


def closed_loop(seconds: float, step) -> float:
    """Call ``step()`` back to back (one client, each call starting
    when the previous returns) until ``seconds`` have passed; at least
    one call always runs. Returns the loop's wall time."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while True:
        if not step():
            break
        if time.perf_counter() >= deadline:
            break
    return time.perf_counter() - t0
