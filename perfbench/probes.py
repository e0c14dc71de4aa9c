"""Measurements taken from outside the program: process memory from
/proc, bytes left in a directory, and Spark's own status stores.

Nothing here imports the program; the Spark readers only need a live
SparkSession.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

# -- process memory ----------------------------------------------------------


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and its descendants."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the Python workers the JVM forks)."""
    return sum(_rss_bytes(pid) for pid in process_tree(root))


class PeakRss:
    """Samples the resident memory of this process tree on a thread
    until stopped; ``peak`` is the largest sum seen, in bytes."""

    def __init__(self, period_s: float = 0.2):
        self.peak = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self._period):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) clock ticks of this machine so far: busy counts
    every tick a vCPU wanted to run, stolen the ticks the hypervisor
    gave to other guests instead."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return user + nice + system + irq + softirq + steal, steal


# -- temp dirs -----------------------------------------------------------------


def dir_usage(path: str) -> tuple[int, int]:
    """(top-level entries, total bytes of regular files) under ``path``."""
    if not os.path.isdir(path):
        return 0, 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return len(os.listdir(path)), total


# -- formatted SQL metric values ---------------------------------------------------

_UNIT_SCALE = {
    "": 1.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "PiB": 2.0**50,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric, in bytes or seconds.

    Spark renders a metric either as a bare value ("101.8 MiB", "92 ms",
    "1,234") or, when it aggregates several tasks, as a header line
    "total (min, med, max ...)" followed by "<total> (<min>, ...)". The
    total is returned, scaled by its unit."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None or m.group(2) not in _UNIT_SCALE:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


# -- Spark status stores ---------------------------------------------------------

#: SQL metric names (as Spark labels them) -> per-layer metric names
SQL_METRICS = {
    "size of files read": "scan.files_read_mb",
    "number of files read": "scan.files_read",
    "time to run Python workers": "py.run_s",
    "time to initialize Python workers": "py.init_s",
    "time to start Python workers": "py.start_s",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.returned_mb",
}

_MB = 2.0**20


class StatusReader:
    """Reads jobs, stages and SQL executions that Spark submitted in a
    time window, serialised to JSON inside the JVM (one gateway call
    per list instead of one per field)."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _load(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def session_conf(self) -> dict[str, str]:
        return self._load(self._spark._jsparkSession.conf().getAll())

    def window(self, start_ms: int, end_ms: int, group: str) -> dict[str, float]:
        """Layer totals of the jobs tagged ``group`` or submitted within
        [start_ms, end_ms] (streams run their jobs under their own
        group), of their stages, and of the SQL executions started in
        the window."""
        jobs = [
            j
            for j in self._load(self._store.jobsList(self._empty()))
            if j.get("jobGroup") == group or start_ms <= (j.get("submissionTime") or 0) <= end_ms
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._load(
                self._store.stageList(
                    self._empty(), False, False, self._no_quantiles, self._empty()
                )
            )
            if s["stageId"] in stage_ids and s.get("submissionTime")
        ]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)),
            "exec.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "shuffle.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / _MB,
        }
        out.update({name: 0.0 for name in SQL_METRICS.values()})
        executions = self._sql.executionsList()
        for i in range(executions.size() - 1, -1, -1):
            ex = executions.apply(i)
            if ex.submissionTime() < start_ms:
                break
            if ex.submissionTime() > end_ms:
                continue
            names = {str(m["accumulatorId"]): m["name"] for m in self._load(ex.metrics())}
            values = self._load(self._sql.executionMetrics(ex.executionId()))
            for acc, text in values.items():
                key = SQL_METRICS.get(names.get(acc, ""))
                if key:
                    scale = _MB if key.endswith("_mb") else 1.0
                    out[key] += parse_metric(text) / scale
        return out


class StreamCounter:
    """StreamingQueryListener that sums micro-batch progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counter.add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self._lock = threading.Lock()
        self.batches = 0
        self.rows = 0
        self.add_batch_ms = 0
        self.trigger_ms = 0

    def add(self, progress) -> None:
        durations = progress.durationMs or {}
        with self._lock:
            self.batches += 1
            self.rows += progress.numInputRows or 0
            self.add_batch_ms += durations.get("addBatch", 0)
            self.trigger_ms += durations.get("triggerExecution", 0)

    def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no progress event arrived for ``quiet_s`` (events
        reach the listener asynchronously)."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while seen != self.batches and time.monotonic() < deadline:
            seen = self.batches
            time.sleep(quiet_s)

    def totals(self) -> dict[str, float]:
        with self._lock:
            return {
                "streaming.batches": float(self.batches),
                "streaming.add_batch_s": self.add_batch_ms / 1e3,
                "streaming.trigger_s": self.trigger_ms / 1e3,
                "streaming.rows_per_batch": self.rows / self.batches if self.batches else 0.0,
            }
