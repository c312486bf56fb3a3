"""Measurement probes that read the program from outside.

* ``tree_cpu_s`` / ``RssSampler``: CPU and resident memory of this process
  and every descendant (the local-mode JVM and the Python worker pool),
  read from /proc. JVM ``executorCpuTime`` leaves the Python workers out,
  so it cannot stand in for these.
* ``SparkStatus``: Spark's own job, stage, task and SQL-node metrics for a
  set of job groups, read from the status REST API at ``sc.uiWebUrl``.
* ``GateListener``: the per-micro-batch progress a streaming query reports.
* ``dir_usage``: files and bytes on disk under a directory.

All of them are read outside the timed regions.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue  # the process exited between listing and reading
        rp = data.rindex(")")  # comm may hold spaces and parentheses
        f = data[rp + 2 :].split()
        cpu = sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime
        out[int(data.split(" ", 1)[0])] = (int(f[1]), cpu)
    return out


def _tree(procs: dict[int, tuple[int, float]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    pids, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            pids.append(pid)
            stack.extend(kids.get(pid, []))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree. A descendant that
    exits is counted through its parent's cutime once reaped."""
    procs = _proc_table()
    return sum(procs[p][1] for p in _tree(procs))


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so forked workers are not counted
    twice for the pages they share with their parent."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process exited
    return 0


class TreeSampler:
    """The one sampler thread: every ``interval`` seconds until stopped, the
    process tree's CPU seconds (kept as a time series) and resident memory
    (PSS; the peak is kept)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.cpu: list[tuple[float, float]] = []  # (time.time(), tree CPU s)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            procs = _proc_table()
            tree = _tree(procs)
            self.cpu.append((time.time(), sum(procs[p][1] for p in tree)))
            self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in tree))
            self._stop.wait(self.interval)

    def cpu_between(self, start: float, end: float) -> float:
        """Tree CPU seconds used between two ``time.time()`` instants, from
        the samples nearest to them."""
        def at(t: float) -> float:
            return min(self.cpu, key=lambda s: abs(s[0] - t))[1]

        return at(end) - at(start)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "ms": 1e-3, "s": 1.0,
         "m": 60.0, "h": 3600.0, "ns": 1e-9}
_NUM = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Spark SQL metric text ('5,000', '580.6 KiB', '2.1 s', or the
    'total (min, med, max ...)\\n2.2 MiB (...)' form) -> number in bytes,
    seconds or rows."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class SparkStatus:
    """Spark's status REST API for one application. Reads go to a snapshot
    of the jobs, stages and SQL executions taken by ``refresh``; take one
    after the work to be read has finished."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._jobs: list[dict] = []
        self._stages: dict[int, list[dict]] = {}
        self._sql: list[dict] | None = None

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def refresh(self) -> None:
        """Snapshot the status store. It is filled asynchronously by the
        listener bus, so wait (up to 5 s) until no job shows as running."""
        for _ in range(50):
            self._jobs = self._get("jobs")
            if all(j["status"] != "RUNNING" for j in self._jobs):
                break
            time.sleep(0.1)
        self._stages = {}
        for st in self._get("stages"):
            self._stages.setdefault(st["stageId"], []).append(st)
        self._sql = None

    def jobs(self, groups: set[str], description: str | None = None) -> list[dict]:
        """Jobs of ``groups`` (and, if given, whose description ends with
        ``description``)."""
        return [
            j for j in self._jobs
            if j.get("jobGroup") in groups
            and (description is None or (j.get("description") or "").endswith(description))
        ]

    def counters(self, jobs: list[dict]) -> dict[str, float]:
        """jobs, stages, tasks, executor run time, JVM CPU, GC, shuffle
        and output bytes, the bytes the parquet scans read, and the task
        skew (max task time over the median task time) of the heaviest
        stage."""
        c = dict.fromkeys(
            ["jobs", "stages", "tasks", "run_s", "jvm_cpu_s", "gc_s", "input_bytes",
             "shuffle_bytes", "output_bytes", "task_skew"], 0.0)
        c["jobs"] = float(len(jobs))
        heaviest = None
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._stages.get(sid, []):
                if st["status"] != "COMPLETE":
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"]
                c["run_s"] += st["executorRunTime"] / 1e3
                c["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["shuffle_bytes"] += st["shuffleWriteBytes"]
                c["output_bytes"] += st["outputBytes"]
                if heaviest is None or st["executorRunTime"] > heaviest["executorRunTime"]:
                    heaviest = st
        c["input_bytes"] = scan_bytes(self.sql(jobs)) if jobs else 0.0
        if heaviest is not None:
            q = self._get(
                f"stages/{heaviest['stageId']}/{heaviest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            c["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return c

    def sql(self, jobs: list[dict]) -> list[dict]:
        """SQL executions that ran any of ``jobs``, with their plan text and
        their nodes' metrics parsed to numbers."""
        if self._sql is None:
            self._sql = self._get("sql?details=true&planDescription=true&length=1000000")
            for e in self._sql:
                e["nodes"] = [
                    {"id": n["nodeId"], "name": n["nodeName"],
                     "metrics": {m["name"]: metric_value(m["value"]) for m in n["metrics"]}}
                    for n in e["nodes"]
                ]
        ids = {j["jobId"] for j in jobs}
        return [e for e in self._sql
                if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]


def scan_bytes(executions: list[dict]) -> float:
    """Bytes the parquet scans of ``executions`` read ('size of files
    read'). Stage inputBytes is not used: it misses most of what the
    vectorized parquet reader reads."""
    return sum(n["metrics"].get("size of files read", 0.0)
               for e in executions for n in e["nodes"] if n["name"].startswith("Scan parquet"))


class GateListener(StreamingQueryListener):
    """Per-micro-batch progress of the streaming queries of this session:
    run id, batch id, input rows, batch wall and its phase durations."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "rows": p.numInputRows,
            "batch_s": p.batchDuration / 1e3,
            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout: float = 30.0) -> None:
        """Progress events arrive asynchronously; wait for ``n`` of them."""
        end = time.monotonic() + timeout
        while len(self.batches) < n and time.monotonic() < end:
            time.sleep(0.05)


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue  # removed by a concurrent compaction
            files += 1
    return files, size
