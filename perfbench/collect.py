"""Measurement read from outside the engine: spans, Spark status stores, /proc.

Nothing here adds a timer to the package.  Spans wrap the benchmark's own
calls into it; counters come from Spark's core and SQL status stores (the
same stores the web UI reads, populated with the UI off) and from /proc.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------------- /proc

def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is the state (stat field 3); utime..cstime are fields 14-17.
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE


def _all_stats() -> dict[int, tuple[int, float, int]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _subtree(stats: dict, root: int) -> dict[int, tuple[int, float, int]]:
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            frontier.extend(p for p, s in stats.items() if s[0] == pid)
    return tree


def process_tree(root: int) -> dict[int, tuple[int, float, int]]:
    """Every live descendant of ``root`` (and root itself) with its /proc stat."""
    return _subtree(_all_stats(), root)


def split_tree(root: int, jvm_pid: int) -> dict[str, tuple[float, int]]:
    """(cpu s, rss bytes) for the driver, the JVM and the JVM's Python workers."""
    stats = _all_stats()
    workers = _subtree(stats, jvm_pid)
    parts = {"driver": [stats.get(root)], "jvm": [workers.pop(jvm_pid, None)], "python": workers.values()}
    return {part: (sum(r[1] for r in rows if r), sum(r[2] for r in rows if r)) for part, rows in parts.items()}


def _peak_rss(pid: int, field: str = "VmHWM") -> int:
    """The kernel's high-water mark (or, with ``field="VmRSS"``, the current
    size) of one process's resident set, in bytes."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of this process and its descendants: the largest sum,
    over the processes alive at one sample, of each one's resident-set
    high-water mark.  The marks catch peaks between samples, so the figure
    does not depend on when a sample lands.

    The driver's own mark is reset when sampling starts, so memory it used
    before (building inputs and oracles) does not count.  Where the kernel
    refuses the reset, the driver's current resident set is sampled
    instead; ``driver_field`` says which."""

    def __init__(self, interval_s: float = 0.5):
        self.root, self.interval_s, self.peak = os.getpid(), interval_s, 0
        self.driver_field = "VmHWM"
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self):
        self.peak = max(self.peak, sum(_peak_rss(pid, self.driver_field if pid == self.root else "VmHWM")
                                       for pid in process_tree(self.root)))

    def __enter__(self):
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")  # reset this process's VmHWM to its current VmRSS
        except OSError:
            self.driver_field = "VmRSS"
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# --------------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: (id, name, job, parent, start, end); a span without
    a job of its own belongs to its parent's.

    ``enabled=False`` makes ``span`` a no-op, so untraced runs pay nothing.
    ``probe(name, job)``, when set, reads counters at both ends of a span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.probe = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self.spans[self._stack[-1]] if self._stack else None
        if job is None and parent:
            job = parent["job"]
        rec = {"id": sid, "name": name, "job": job, "parent": parent and parent["id"]}
        if self.probe:
            rec["probe_start"] = self.probe(name, job)
        rec["start"] = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if self.probe:
                rec["probe_end"] = self.probe(name, job)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


# ------------------------------------------------------------- status stores

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")
_PYTHON_NODES = re.compile(r"MapInArrow|MapInPandas|PythonMapInArrow|ArrowEvalPython|"
                           r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
                           r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas")


def metric_value(text: str) -> float:
    """Parse a SQL-store metric string ('1,500', '2.6 KiB', 'total (min, med,
    max ...)\\n75 ms (22 ms, ...)') into bytes, seconds or a count."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def python_node_count(plan: str) -> int:
    return len(_PYTHON_NODES.findall(plan))


def _seq(scala_seq) -> list:
    it, out = scala_seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


class Collector:
    """Counters for one job group, read after the group's jobs finish."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = self.sc._gateway.proc.pid
        self.busy_s = 0.0  # time spent collecting, the direct tracing cost
        self._executions_seen = 0

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def probe(self, name: str, job: str | None) -> dict:
        """Counters read at span boundaries: the group's Spark job count at
        plan construction, and /proc CPU and RSS around a whole job."""
        if name not in ("job", "plan.construct"):
            return {}
        t0 = time.perf_counter()
        out = {"spark_jobs": len(self.job_ids(job))}
        if name == "job":
            out["proc"] = split_tree(os.getpid(), self.jvm_pid)
        self.busy_s += time.perf_counter() - t0
        return out

    def counters(self, job_ids: list[int]) -> tuple[dict[str, float], list[float]]:
        """Sums over the stages and SQL executions of ``job_ids``, and the
        durations of their tasks."""
        t0 = time.perf_counter()
        c = dict.fromkeys((
            "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
            "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s", "exec.scheduler_delay_s",
            "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records_written",
            "shuffle.fetch_wait_s", "spill.memory_bytes", "spill.disk_bytes",
            "sources.scan_input_bytes", "sources.scan_input_rows",
            "python.bytes_sent", "python.bytes_received", "python.rows_received"), 0.0)
        durations: list[float] = []
        c["exec.jobs"] = len(job_ids)
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = self.core.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["exec.failed_tasks"] += sd.numFailedTasks()
                c["exec.executor_run_s"] += sd.executorRunTime() / 1e3
                c["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["exec.gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle.read_bytes"] += sd.shuffleReadBytes()
                c["shuffle.records_written"] += sd.shuffleWriteRecords()
                c["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                c["spill.memory_bytes"] += sd.memoryBytesSpilled()
                c["spill.disk_bytes"] += sd.diskBytesSpilled()
                for td in _seq(self.core.taskList(sid, sd.attemptId(), sd.numTasks() + 16)):
                    d = td.duration()
                    if d.isDefined():
                        durations.append(d.get() / 1e3)
                    c["exec.scheduler_delay_s"] += td.schedulerDelay() / 1e3
        self._sql_counters(set(job_ids), c)
        self.busy_s += time.perf_counter() - t0
        return c, durations

    def _sql_counters(self, job_ids: set[int], c: dict[str, float]) -> None:
        total = self.sql.executionsCount()
        new = _seq(self.sql.executionsList(self._executions_seen, total - self._executions_seen))
        self._executions_seen = total
        for ex in new:
            if not job_ids & {int(j) for j in _seq(ex.jobs().keys())}:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            for node in _seq(self.sql.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = metric_value(v.get())
                if name.startswith("Scan"):
                    c["sources.scan_input_bytes"] += metrics.get("size of files read", 0.0)
                    c["sources.scan_input_rows"] += metrics.get("number of output rows", 0.0)
                elif _PYTHON_NODES.search(name):
                    c["python.bytes_sent"] += metrics.get("data sent to Python workers", 0.0)
                    c["python.bytes_received"] += metrics.get("data returned from Python workers", 0.0)
                    c["python.rows_received"] += metrics.get("number of output rows", 0.0)


def storage(sc) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return (sc._jsc.getPersistentRDDs().size(),
            sum(int(i.memSize()) + int(i.diskSize()) for i in infos))
