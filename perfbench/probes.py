"""Measurement from outside the engine: process-tree sampling, job-group
attribution and spans.

Nothing here starts a thread or opens a connection. ``ProcTree`` reads
``/proc`` at the boundaries the caller chooses. ``JobGroups`` tags the
jobs of one call with ``setJobGroup`` and reads them back from the
status tracker and the application status store after the listener
bus has drained. ``Tracer`` times every layer call and, in traced
passes, keeps the spans in memory and tags them with job groups.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- /proc tree
def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds including reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode(errors="replace")
        except OSError:
            continue
        # comm may contain spaces and parens: split after the last ')'
        fields = raw.rpartition(")")[2].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _TICK)
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class ProcTree:
    """CPU, peak RSS and process births of this process and all its
    descendants (the JVM, the Python daemon and its workers)."""

    root: int = field(default_factory=os.getpid)
    peak_mb: dict[int, float] = field(default_factory=dict)

    def sample(self) -> tuple[float, set[int]]:
        """Tree CPU seconds so far and the live tree pids; updates the
        per-process resident-memory high-water marks."""
        table = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        tree, stack = set(), [self.root]
        while stack:
            pid = stack.pop()
            if pid in table and pid not in tree:
                tree.add(pid)
                stack.extend(kids.get(pid, ()))
        for pid in tree:
            self.peak_mb[pid] = max(self.peak_mb.get(pid, 0.0), _hwm_mb(pid))
        return sum(table[p][1] for p in tree), tree

    @property
    def peak_rss_mb(self) -> float:
        """Sum over tree processes of each one's peak resident set."""
        return sum(self.peak_mb.values())

    def descendants(self) -> set[int]:
        return self.sample()[1] - {self.root}


def wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    return alive


# --------------------------------------------------------- job attribution
@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    jobs_wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_rows: int = 0
    python_bytes_sent: float = 0.0
    python_bytes_received: float = 0.0

    def add(self, o: GroupStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE = re.compile(r"([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)")


def _parse_size(text: str) -> float:
    """Bytes from a rendered size metric; the total is on the last
    line (``total (min, med, max ...)\\n5.9 KiB (...)``)."""
    m = _SIZE.match(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _parse_count(text: str) -> int:
    digits = text.strip().splitlines()[-1].split(" (")[0].replace(",", "")
    return int(digits) if digits.isdigit() else 0


class JobGroups:
    """Run calls under a named job group and read back what they ran."""

    PY_SENT = "data sent to Python workers"
    PY_RECV = "data returned from Python workers"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._sql_seen = int(self._sql.executionsCount())
        self.own_s = 0.0  # time spent tagging, i.e. inside the caller's timings
        self.reported: dict[str, GroupStats] = {}

    @contextmanager
    def group(self, name: str):
        t0 = time.perf_counter()
        self.sc.setJobGroup(name, name)
        self.own_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            self.own_s += time.perf_counter() - t0

    def drain(self) -> None:
        """Block until every event posted so far reached the status
        store, so finished jobs and stages are all visible."""
        self._bus.waitUntilEmpty()

    def stats(self, names: list[str]) -> dict[str, GroupStats]:
        """Per group: jobs, stages, tasks, executor time, shuffle and
        spill from the status store, plus SQL metrics of the Python
        nodes in the group's SQL executions."""
        self.drain()
        out, owner = {}, {}
        for name in names:
            st = GroupStats()
            spans = []
            for jid in self._tracker.getJobIdsForGroup(name):
                owner[jid] = st
                st.jobs += 1
                job = self._store.job(jid)
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    spans.append((sub.get().getTime(), end.get().getTime()))
                info = self._tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    attempts = self._store.stageData(
                        sid, False, self._no_status, False, self._no_quantiles
                    )
                    for i in range(attempts.size()):
                        a = attempts.apply(i)
                        if str(a.status()) == "SKIPPED":
                            continue
                        st.stages += 1
                        st.tasks += a.numCompleteTasks()
                        st.executor_run_s += a.executorRunTime() / 1e3
                        st.executor_cpu_s += a.executorCpuTime() / 1e9
                        st.gc_s += a.jvmGcTime() / 1e3
                        st.shuffle_read_bytes += a.shuffleReadBytes()
                        st.shuffle_write_bytes += a.shuffleWriteBytes()
                        st.spill_bytes += a.diskBytesSpilled()
            st.jobs_wall_s = _union(spans) / 1e3
            out[name] = self.reported[name] = st
        self._python_metrics(owner)
        return out

    def _python_metrics(self, owner: dict[int, GroupStats]) -> None:
        n = int(self._sql.executionsCount())
        if n <= self._sql_seen:
            return
        execs = self._sql.executionsList(self._sql_seen, n - self._sql_seen)
        self._sql_seen = n
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keys().iterator()
            st = None
            while jobs.hasNext():
                st = owner.get(int(jobs.next())) or st
            if st is None:
                continue
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                by_name = {}
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        by_name[pm.name()] = v.get()
                if self.PY_SENT not in by_name:
                    continue
                st.python_rows += _parse_count(by_name.get("number of output rows", "0"))
                st.python_bytes_sent += _parse_size(by_name[self.PY_SENT])
                st.python_bytes_received += _parse_size(by_name.get(self.PY_RECV, "0 B"))


def _union(spans: list[tuple[float, float]]) -> float:
    """Length covered by the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def plan_phases_ms(df) -> dict[str, float]:
    """``queryExecution().tracker().phases()`` of ``df`` after forcing
    its physical plan (analysis, optimization, planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans at layer boundaries: the benchmark's one timer. Every span
    is timed; only while ``enabled`` (a traced pass) is it kept and its
    ``group`` set as the Spark job group, so an untraced pass pays two
    clock reads per span."""

    def __init__(self, groups: JobGroups | None):
        self.groups = groups
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            sp = Span(name, None, time.perf_counter())
            try:
                yield sp
            finally:
                sp.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        tag = self.groups.group(group) if group else nullcontext()
        sp = Span(name, parent, time.perf_counter(), group=group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            with tag:
                yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def as_json(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                **({"group": s.group} if s.group else {}),
            }
            for s in self.spans
        ]
