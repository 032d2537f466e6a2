"""What the benchmark reads about the processes it runs.

* ``ProcessTree``: CPU seconds and proportional resident memory of this
  process and every descendant (the driver JVM, the Python workers), from
  /proc.
* ``SparkStatus``: the session's own status API (jobs, stage metrics,
  task quantiles, SQL plan-node metrics) over the loopback UI.
* ``calibration``: a host stamp recorded beside the metrics, never a
  metric itself.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # the command name may hold spaces: fields start after the last ')'
    return s[s.rindex(")") + 2:].split()


class ProcessTree:
    """This process and its descendants; a sampler thread tracks the
    peak of their summed resident memory (proportional set size) between
    ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.5):
        self.root = str(os.getpid())
        self.interval = interval
        self.peak_bytes = 0
        self.sampler_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[str]:
        children: dict[str, list[str]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                ppid = _stat(pid)[1]
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def cpu_seconds(self) -> float:
        """user+sys of the live tree plus what it has reaped, so a worker
        that exits between two readings still counts. The sampler
        thread's own CPU (reading /proc) is left out."""
        total = 0
        for pid in self.pids():
            try:
                f = _stat(pid)
            except (OSError, IndexError):
                continue
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return total / _TICK - self.sampler_cpu_s

    def pss_bytes(self) -> int:
        """Summed proportional set size: a page shared by several
        processes of the tree (the Python workers fork from one daemon)
        counts once in all, not once per process."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self.peak_bytes = max(self.peak_bytes, self.pss_bytes())
            self.sampler_cpu_s += time.thread_time() - t
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self.pss_bytes())


# ------------------------------------------------------------ Spark status

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """A plan-node metric as the UI formats it: a plain count ("1,234"),
    or a size or time total ("12.3 MiB", "1.2 s", or the first figure of
    "total (min, med, max ...)\\n12.3 MiB (...)"). Sizes come back in
    bytes, times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


def _metrics(node: dict) -> dict:
    return {x["name"]: x["value"] for x in node["metrics"]}


def _rows_out(nodes: dict, child_of: dict, node_id) -> float:
    """Rows a plan node puts out. Nodes without a row count (a codegen'd
    Project, a shuffle read) pass their children's rows through."""
    m = _metrics(nodes[node_id])
    for key in ("number of output rows", "records read"):
        if key in m:
            return metric_value(m[key])
    return sum(_rows_out(nodes, child_of, c) for c in child_of.get(node_id, []))


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self, group: str) -> list[dict]:
        """Jobs of one job group, once the listener has seen them end."""
        for _ in range(100):
            js = [j for j in self.get("jobs") if j.get("jobGroup") == group]
            if js and all(j["status"] in ("SUCCEEDED", "FAILED") for j in js):
                return js
            time.sleep(0.05)
        return js

    def group_metrics(self, group: str) -> dict:
        """Totals over the stages of every job in ``group``, the task skew
        of its longest stage, and the Python-seam plan-node metrics of the
        SQL executions those jobs ran."""
        jobs = self.jobs(group)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("stages?status=complete")
                  if s["stageId"] in stage_ids]
        tot = lambda k: float(sum(s.get(k, 0) for s in stages))  # noqa: E731
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "exchange.shuffle_write_mb": tot("shuffleWriteBytes") / 1e6,
            "exchange.shuffle_records": tot("shuffleWriteRecords"),
            "scan.input_mb": tot("inputBytes") / 1e6,
            "executor.run_s": tot("executorRunTime") / 1e3,
            "executor.jvm_cpu_s": tot("executorCpuTime") / 1e9,
            "executor.gc_s": tot("jvmGcTime") / 1e3,
            "executor.task_skew": 0.0,
        }
        if stages:
            top = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self.get(f"stages/{top['stageId']}/{top['attemptId']}"
                         "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["executor.task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        out.update(self.seam(job_ids))
        return out

    def executions(self, job_ids: set) -> list[dict]:
        sql = self.get("sql?details=true&planDescription=false&offset=0&length=100000")
        return [e for e in sql
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]

    def seam(self, job_ids: set) -> dict:
        """Python-seam node metrics summed over the executions: bytes each
        way, rows sent to Python and time running inside the Python
        workers. Each execution lists a plan node once; the nodes of a
        cached subtree report their work only in the execution that filled
        the cache. "time to initialize Python workers" is left out: a
        reused worker starts that clock when its previous task ends, so it
        holds the worker's idle time between tasks. ``seam.nodes`` is the
        number of Python nodes read."""
        out = {"seam.to_python_mb": 0.0, "seam.from_python_mb": 0.0,
               "seam.rows_to_python": 0.0, "seam.python_s": 0.0, "seam.nodes": 0}
        for e in self.executions(job_ids):
            nodes = {n["nodeId"]: n for n in e["nodes"]}
            child_of: dict = {}
            for edge in e.get("edges", []):
                child_of.setdefault(edge["toId"], []).append(edge["fromId"])
            for n in e["nodes"]:
                m = _metrics(n)
                if "data sent to Python workers" not in m:
                    continue
                out["seam.nodes"] += 1
                out["seam.to_python_mb"] += metric_value(m["data sent to Python workers"]) / 1e6
                out["seam.from_python_mb"] += metric_value(
                    m.get("data returned from Python workers", "0")) / 1e6
                out["seam.python_s"] += metric_value(m.get("time to run Python workers", "0"))
                out["seam.rows_to_python"] += sum(
                    _rows_out(nodes, child_of, c) for c in child_of.get(n["nodeId"], []))
        return out

    def node_rows(self, job_ids: set, node_name: str) -> float:
        """Summed output rows of every plan node named ``node_name``."""
        total = 0.0
        for e in self.executions(job_ids):
            for n in e["nodes"]:
                if n["nodeName"] == node_name:
                    total += metric_value(_metrics(n).get("number of output rows", "0"))
        return total


# ------------------------------------------------------------ calibration

def calibration() -> dict:
    """A single-core integer loop and a one-process memory copy: the
    host's speed in the window this run measured."""
    t = time.perf_counter()
    x = 1
    for _ in range(2_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    alu = time.perf_counter() - t
    a = np.ones(8 << 20)           # 64 MiB
    b = np.empty_like(a)
    t = time.perf_counter()
    for _ in range(8):
        np.copyto(b, a)
    copy = time.perf_counter() - t
    return {"alu_loop_s": alu, "mem_copy_gb_per_s": 8 * a.nbytes * 2 / copy / 1e9,
            "nproc": os.cpu_count()}
