"""The box and the run: core count, load, hypervisor steal and the peak
resident memory of the benchmark's process tree."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _children_map() -> dict[int, list[tuple[int, str]]]:
    kids: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            ppid = int(tail.split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append((int(name), head.split("(", 1)[1]))
    return kids


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of `root` and all its descendants (the driver JVM and
    the Python workers), and of the descendant Python processes alone."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total = workers = 0
    todo = [(root, "")]
    while todo:
        pid, comm = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        total += rss
        if pid != root and comm.startswith("python"):
            workers += rss
    return total, workers


RSS_PERIOD_S = 0.2  # how often RssSampler reads the process tree


class RssSampler:
    """Samples the process tree's RSS every RSS_PERIOD_S seconds while
    `active` is set; `peak` and `worker_peak` hold the highest readings."""

    def __init__(self):
        self.peak = self.worker_peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            if self.active.is_set():
                total, workers = tree_rss_bytes(os.getpid())
                self.peak = max(self.peak, total)
                self.worker_peak = max(self.worker_peak, workers)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def spark_state(spark) -> dict:
    conf = spark.sparkContext.getConf()
    cores = int(conf.get("spark.master").split("[")[1].rstrip("]"))
    task_cpus = int(conf.get("spark.task.cpus", "1"))
    return {"master": conf.get("spark.master"), "task_cpus": task_cpus,
            "slots": cores // task_cpus,
            "arrow_batch_rows": int(conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch")),
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions"))}


def steal_ticks() -> int:
    from bench import steal_ticks

    return steal_ticks()


def run_state(spark, steal0: int, load0: float) -> dict:
    """The effective Spark config plus the load average and the
    hypervisor steal over the section that began at (steal0, load0)."""
    return {**spark_state(spark), "nproc": nproc(),
            "steal_s": (steal_ticks() - steal0) / 100,
            "load_1m_before": load0, "load_1m_after": os.getloadavg()[0]}
