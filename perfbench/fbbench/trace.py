"""Spans, Spark stage metrics, SQL plan metrics and process memory,
all read from outside the program.

A `Tracer` keeps spans in memory and writes them out once, at the end
of a run. With `enabled=False` every span is a no-op, so the timed
(untraced) runs execute the same workload code as the traced run.

Each traced span owns a Spark job group, so the jobs that ran inside
it can be looked up afterwards in the application status store
(`AppStatusStore`, which works with `spark.ui.enabled=false`).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record `name` around the block. Yields the span's attrs dict
        (or a throwaway dict when tracing is off) for counts."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, self.run_id, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self._group(s), name)
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.attrs.update(stage_metrics(self.spark, self._group(s)))
                if self._stack:
                    sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.id}"

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s.parent == pid:
                    out.append(s)
                    todo.append(s.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = self_time(s, self.spans)
                f.write(json.dumps(row, default=str) + "\n")


# ---------------------------------------------------------------------------
# Spark status store

_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "peak_exec_mem_bytes": ("peakExecutionMemory", 1),
    "output_bytes": ("outputBytes", 1),
}


class IncompleteStages(RuntimeError):
    """A job group whose action has returned still has a job or stage
    that did not finish: its stage metrics would undercount."""


def stage_metrics(spark, group: str) -> dict:
    """Totals over the completed stages of the jobs in `group`, plus
    the median and maximum task run time across those stages.

    The status store is filled from the listener bus, asynchronously,
    so the bus is drained first. After that every job of the group must
    have succeeded, and each of its stages be COMPLETE or SKIPPED (a
    stage whose shuffle output an earlier job left behind); anything
    else raises IncompleteStages, which fails the pass."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    empty = gw.new_array(jvm.double, 0)
    quant = gw.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in _STAGE_FIELDS}}
    p50s, maxes = [], []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None or info.status != "SUCCEEDED":
            raise IncompleteStages(f"job {job_id} of group {group} is "
                                   f"{info.status if info else 'unknown'}")
        out["jobs"] += 1
        for sid in info.stageIds:
            data = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty)
            for i in range(data.size()):
                st = data.apply(i)
                status = st.status().toString()
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE":
                    raise IncompleteStages(f"stage {sid} of group {group} is {status}")
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                for key, (attr, scale) in _STAGE_FIELDS.items():
                    out[key] += getattr(st, attr)() * scale
                summary = store.taskSummary(sid, st.attemptId(), quant)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    p50s.append(run.apply(0) / 1e3)
                    maxes.append(run.apply(1) / 1e3)
    out["task_p50_s"] = sorted(p50s)[len(p50s) // 2] if p50s else 0.0
    out["task_max_s"] = max(maxes, default=0.0)
    return out


# ---------------------------------------------------------------------------
# SQL plan metrics


def plan_nodes(jplan):
    """Yield (node name, {metric: value}) over an executed physical plan,
    descending into adaptive plans and query stages."""
    todo = [jplan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        metrics, it = {}, p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        yield p.nodeName(), metrics
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            kids = p.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))


def collect_with_plan(df):
    """Fetch `df` as Arrow and return (rows as dicts, plan nodes). The
    fetch executes the Dataset's own QueryExecution, so its executed
    plan carries the SQL metrics of this run."""
    rows = df.toArrow().to_pylist()
    return rows, list(plan_nodes(df._jdf.queryExecution().executedPlan()))


def sum_metric(nodes, node_name: str, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if n == node_name)


# ---------------------------------------------------------------------------
# process memory


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def process_tree(pid: int) -> list[int]:
    """`pid` and every process under it."""
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus every process
    under it (the Python worker daemon and its workers), in MB."""
    return sum(_vm_hwm_kb(p) for p in process_tree(jvm_pid(spark))) / 1024.0
