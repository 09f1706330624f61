"""Measurement from outside the program: spans around the harness's own
calls, the process tree under /proc, and (traced runs only) Spark's REST
status API and the SQL metrics of each execution's final plan.

Nothing here reaches into the program's code; every figure is read from
the harness's process tree, from the JVM's management beans or from the
Spark UI that a traced run turns on.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


# ---------------------------------------------------------------------------
# /proc: the harness's own process tree
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(comm, cpu seconds incl. reaped children, rss kB) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    cpu = sum(int(x) for x in fields[11:15]) / CLK_TCK
    rss_kb = int(fields[21]) * PAGE_KB
    return comm, cpu, rss_kb


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs, all
    CPUs together (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class ProcessTree:
    """CPU and resident memory of this process and all its descendants,
    split into the JVM, the Python workers the JVM forks, and the rest.

    CPU includes the times of reaped children (cutime/cstime), so work done
    by a Python worker that has exited still counts once its parent reaps
    it. Peak RSS is the largest sum of resident sets of the harness, the
    JVM and its Python workers seen by a sampler thread, over the whole run
    and over a window the caller opens per pass. Other descendants
    are left out of it: a child the JVM forks to run a command shares the
    JVM's pages until it execs, and one sample caught there reads the JVM
    twice."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_rss_kb = 0
        self.window_peak_kb = 0
        self.peak_worker_rss_kb = 0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def snapshot(self) -> dict:
        kids = _children()
        me = os.getpid()
        out = {"total_cpu": 0.0, "jvm_cpu": 0.0, "worker_cpu": 0.0,
               "rss_kb": 0, "worker_rss_kb": 0, "jvm_pid": None, "workers": []}
        stack = [(me, False)]
        while stack:
            pid, under_jvm = stack.pop()
            st = _stat(pid)
            if st is None:
                continue
            comm, cpu, rss = st
            out["total_cpu"] += cpu
            is_jvm = comm == "java" and not under_jvm
            if is_jvm:
                out["jvm_pid"] = pid
                out["jvm_cpu"] += cpu
                out["rss_kb"] += rss
            elif under_jvm and comm.startswith("python"):
                out["worker_cpu"] += cpu
                out["worker_rss_kb"] += rss
                out["rss_kb"] += rss
                out["workers"].append(pid)
            elif pid == me:
                out["rss_kb"] += rss
            stack.extend((k, under_jvm or is_jvm) for k in kids.get(pid, ()))
        return out

    def _record(self, s: dict) -> None:
        self.peak_rss_kb = max(self.peak_rss_kb, s["rss_kb"])
        self.window_peak_kb = max(self.window_peak_kb, s["rss_kb"])
        self.peak_worker_rss_kb = max(self.peak_worker_rss_kb, s["worker_rss_kb"])
        self.worker_pids.update(s["workers"])

    def open_window(self) -> dict:
        """Start a new peak window; returns the snapshot it starts from."""
        s = self.snapshot()
        self.window_peak_kb = 0
        self._record(s)
        return s

    def close_window(self) -> tuple[dict, float]:
        """(closing snapshot, peak RSS in MB since open_window)."""
        s = self.snapshot()
        self._record(s)
        return s, self.window_peak_kb / 1024

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._record(self.snapshot())

    def start(self) -> "ProcessTree":
        self._thread = threading.Thread(target=self._sample, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._record(self.snapshot())  # a final sample so short runs still count


def jvm_hwm_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_gc_seconds(spark) -> float:
    """Accumulated GC time of the driver JVM (all collectors), read over
    the py4j gateway from the management beans. Runs no Spark job."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


# ---------------------------------------------------------------------------
# Spans around the harness's calls into the program
# ---------------------------------------------------------------------------


class Tracer:
    """Records one span per public call the harness makes: name, start,
    end, parent span and run id, plus the layer (module) it enters, its
    phase (read / build / action) and the operator family whose work an
    action executes. A traced run also gives every span that may run Spark
    jobs its own job group, so jobs, stages and SQL executions can be
    charged to the call that started them. Spans stay in memory and are
    written once, at the end of the run."""

    def __init__(self, spark, run_id: str, job_groups: bool):
        self.spark = spark
        self.run_id = run_id
        self.job_groups = job_groups
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_index = -1

    @contextmanager
    def span(self, name: str, layer: str, phase: str, family: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "phase": phase,
               "family": family or layer, "pass": self.pass_index,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "group": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if self.job_groups and phase != "pass":
            rec["group"] = f"{self.run_id}:{sid}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.job_groups and phase != "pass":
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None and parent["group"]:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------------------------
# Spark REST status API (traced runs only)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_values(text: str) -> tuple[float, float]:
    """(total, max per task) of one SQL metric string as the UI renders it,
    e.g. '64.0 MiB (16.0 MiB, 16.0 MiB, 17.0 MiB (stage 3.0: task 7))'
    after a 'total (min, med, max ...)' header line, or '1,024'. Sizes
    come back in bytes; the per-task max equals the total when the UI
    shows no breakdown."""
    body = text.split("\n")[-1]
    nums = re.findall(r"([\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|min|h)?", body)

    def val(n: str, unit: str) -> float:
        x = float(n.replace(",", ""))
        return x * _SIZE.get(unit, 1)

    vals = [val(n, u) for n, u in nums if n.replace(",", "").replace(".", "")]
    if not vals:
        return 0.0, 0.0
    total = vals[0]
    mx = vals[3] if len(vals) >= 4 else total
    return total, mx


class SparkRest:
    """Reads jobs, stages and SQL executions from the UI's REST API."""

    def __init__(self, port: int):
        self.base = f"http://localhost:{port}/api/v1"
        apps = self._get("/applications")
        self.app = apps[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def fetch(self) -> dict:
        a = f"/applications/{self.app}"
        return {
            "jobs": self._get(f"{a}/jobs"),
            "stages": self._get(f"{a}/stages"),
            "sql": self._get(f"{a}/sql?details=true&planDescription=false&length=100000"),
        }


def charge_groups(status: dict) -> dict[str, dict]:
    """Per job group: job count, stage task CPU, shuffle write, spill, and
    from the SQL executions of those jobs (final AQE plans, query stages
    expanded) the peak per-task memory of any operator, spill size, files
    read and each node's output rows."""
    stages = {(s["stageId"], s["attemptId"]): s for s in status["stages"]}
    by_group: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    for j in status["jobs"]:
        g = j.get("jobGroup")
        if not g:
            continue
        job_group[j["jobId"]] = g
        acc = by_group.setdefault(g, _empty_charge())
        acc["jobs"] += 1
        for sid in j["stageIds"]:
            for (s_id, _att), s in stages.items():
                if s_id == sid and s.get("status") == "COMPLETE":
                    acc["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    acc["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
                    acc["spill_mb"] += s.get("diskBytesSpilled", 0) / 2**20
    for ex in status["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        groups = {job_group[i] for i in ids if i in job_group}
        if len(groups) != 1:
            continue
        acc = by_group[groups.pop()]
        for node in ex.get("nodes", []):
            m = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if "peak memory" in m:
                acc["peak_mem_mb"] = max(acc["peak_mem_mb"], _metric_values(m["peak memory"])[1] / 2**20)
            if "spill size" in m:
                acc["sql_spill_mb"] += _metric_values(m["spill size"])[0] / 2**20
            if "number of files read" in m:
                acc["files_read"] += int(_metric_values(m["number of files read"])[0])
            if "number of output rows" in m:
                acc["rows"].append((node["nodeName"], int(_metric_values(m["number of output rows"])[0])))
    return by_group


def _empty_charge() -> dict:
    return {"jobs": 0, "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "peak_mem_mb": 0.0, "sql_spill_mb": 0.0, "files_read": 0, "rows": []}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
