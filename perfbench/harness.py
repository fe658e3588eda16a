"""Measurement plumbing shared by every workload.

Everything here observes the program from outside: the process tree through
/proc (psutil is not available), and Spark through its own status stores
(the AppStatusStore for jobs, stages and tasks, the SQL status store for
per-node SQL metrics). Nothing inside `imposm2_spark` is instrumented.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0


# ---------------------------------------------------------------------------
# /proc: CPU and resident memory of this process and all its descendants
# ---------------------------------------------------------------------------
def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rfind(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """The pids of `root` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of `pids`, including their reaped children
    (a Python worker that exits is folded into its parent's cutime/cstime,
    so the sum stays continuous across worker restarts)."""
    ticks = 0
    for pid in pids:
        st = _stat_fields(pid)
        if st is not None:
            # after the ')' split: utime=11, stime=12, cutime=13, cstime=14
            ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return ticks / CLK_TCK


def tree_rss_mb(pids: list[int]) -> float:
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return pages * PAGE / MB


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    st = _stat_fields(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started_after_boot = int(st[19]) / CLK_TCK
    return time.time() - (uptime - started_after_boot)


class TreeSampler:
    """Samples the resident memory of the process tree on a background thread
    while active; `take()` returns the highest sum seen since the last call.
    The tree membership is refreshed every few samples, because Spark starts
    Python workers lazily."""

    def __init__(self, period_s: float = 0.05, refresh_every: int = 10):
        self.period_s = period_s
        self.refresh_every = refresh_every
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        n = 0
        pids = process_tree()
        while not self._stop.is_set():
            if n % self.refresh_every == 0:
                pids = process_tree()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            n += 1
            self._stop.wait(self.period_s)

    def take(self) -> float:
        """The peak since the previous take (one sample at least)."""
        peak = max(self.peak_mb, tree_rss_mb(process_tree()))
        self.peak_mb = 0.0
        return peak

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0, "TiB": MB * MB,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ("1,024", "21 ms", or "total (min, med, max ...)
    \\n7.5 s (...)") -> its total in base units (rows, seconds, bytes)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Counters:
    """Spark-side work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    # the join stage (the busiest stage that reads shuffle data): its longest
    # task over its mean task time, idle cores counted as empty tasks. 1 when
    # the work is spread evenly over the cores, `cores` when one task holds
    # it all (AQE may coalesce a small shuffle into a single task)
    task_skew: float = 0.0
    # (node name, node description, metric name) -> total in base units
    sql: dict = field(default_factory=dict)

    def sql_total(self, node_pattern: str, metric: str, desc_pattern: str | None = None) -> float:
        return sum(
            v for (name, desc, m), v in self.sql.items()
            if m == metric and re.search(node_pattern, name)
            and (desc_pattern is None or re.search(desc_pattern, desc))
        )


class SparkProbe:
    """Tags work with job groups and reads what each group did from the
    status stores (works with the UI off)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = spark._jvm
        self._gw = self.sc._gateway
        self.cores = self.sc.defaultParallelism

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store, so a finished job's stages are complete there."""
        self._jsc.listenerBus().waitUntilEmpty()

    def cache_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def counters(self, group: str, with_sql: bool = False) -> Counters:
        self.drain()
        store = self._jsc.statusStore()
        c = Counters()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            ids = store.job(jid).stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        c.jobs = len(job_ids)
        quant = self._gw.new_array(self._jvm.double, 1)
        quant[0] = 1.0
        join_stage = None  # (run time, stage id, attempt id, tasks)
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False,
                self._gw.new_array(self._jvm.double, 0),
            )
            for a in range(attempts.size()):
                s = attempts.apply(a)
                if s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                c.stages += 1
                tasks = s.numCompleteTasks() + s.numFailedTasks()
                c.tasks += tasks
                c.executor_cpu_s += s.executorCpuTime() / 1e9
                c.gc_s += s.jvmGcTime() / 1e3
                c.shuffle_write_mb += s.shuffleWriteBytes() / MB
                c.shuffle_read_mb += s.shuffleReadBytes() / MB
                c.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
                if s.shuffleReadBytes() > 0 and (join_stage is None or s.executorRunTime() > join_stage[0]):
                    join_stage = (s.executorRunTime(), sid, s.attemptId(), tasks)
        if join_stage is not None and join_stage[0] > 0:
            run_ms, sid, attempt, tasks = join_stage
            summary = store.taskSummary(sid, attempt, quant)
            if summary.isDefined():
                longest = summary.get().executorRunTime().apply(0)
                c.task_skew = longest / (run_ms / max(tasks, self.cores))
        if with_sql:
            c.sql = self._sql_metrics(job_ids)
        return c

    def _sql_metrics(self, job_ids: set) -> dict:
        sqls = self.spark._jsparkSession.sharedState().statusStore()
        out: dict = {}
        execs = sqls.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ej = e.jobs().keySet().toSeq()
            if not any(ej.apply(k) in job_ids for k in range(ej.size())):
                continue
            values = sqls.executionMetrics(e.executionId())
            nodes = sqls.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                ms = n.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        key = (n.name(), n.desc(), metric.name())
                        out[key] = out.get(key, 0.0) + parse_sql_metric(v.get())
        return out


# ---------------------------------------------------------------------------
# Spans (traced runs only): kept in memory, written once at the end
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    counters: Counters | None = None
    result: object = None
    cache_mb: float = 0.0  # persisted RDD bytes when the span ended

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, probe: SparkProbe, run_id: str):
        self.probe = probe
        self.run_id = run_id
        self.spans: list[Span] = []

    def span(self, name: str, fn, parent: str | None = None) -> Span:
        """Run `fn()` inside its own job group and record the span and the
        Spark counters of that group."""
        group = f"{self.run_id}:{name}:{len(self.spans)}"
        self.probe.set_group(group)
        sp = Span(name=name, run_id=self.run_id, parent=parent, start=time.perf_counter(), group=group)
        try:
            sp.result = fn()
        finally:
            sp.end = time.perf_counter()
            self.probe.clear_group()
        sp.counters = self.probe.counters(group, with_sql=True)
        sp.cache_mb = self.probe.cache_mb()
        self.spans.append(sp)
        return sp

    def prefix(self, name: str, fn, reps: int, extends: str | None = None) -> "Prefix":
        """`reps` spans of one cumulative pipeline prefix; `extends` names the
        shorter prefix it adds a layer to (the span's parent)."""
        return Prefix(name, [self.span(name, fn, parent=extends) for _ in range(reps)])

    def records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            c = s.counters
            out.append({
                "name": s.name, "run_id": s.run_id, "parent": s.parent,
                "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                "group": s.group,
                "jobs": c.jobs, "stages": c.stages, "tasks": c.tasks,
                "executor_cpu_s": round(c.executor_cpu_s, 4),
                "gc_s": round(c.gc_s, 4),
                "shuffle_write_mb": round(c.shuffle_write_mb, 4),
                "shuffle_read_mb": round(c.shuffle_read_mb, 4),
                "spill_mb": round(c.spill_mb, 4),
                "task_skew": round(c.task_skew, 4),
            })
        return out


class Prefix:
    """Repeated spans of one prefix, summarised by their medians."""

    def __init__(self, name: str, spans: list[Span]):
        self.name = name
        self.spans = spans

    @property
    def wall(self) -> float:
        return statistics.median(s.wall_s for s in self.spans)

    def counter(self, f) -> float:
        return statistics.median(f(s.counters) for s in self.spans)
