"""Spans around the package's public functions, joined to Spark's own SQL
and task metrics.

A ``Tracer`` keeps spans in memory (name, start, end, parent, run id). Each
span runs under its own Spark job group, so every job, stage and SQL
execution a span causes can be found afterwards in the status stores:

* ``statusTracker().getJobIdsForGroup`` maps a span to its jobs;
* ``statusStore().executionsList`` maps jobs to SQL executions, whose
  ``planGraph`` and ``executionMetrics`` give per-node rows, files and
  exchange counts;
* the core ``AppStatusStore.stageData`` gives per-stage task time, shuffle
  bytes, spill and peak memory, plus task-time quantiles for skew.

``instrument`` swaps module attributes for span-wrapping versions while a
traced run is active; untraced runs never call it and pay nothing.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIMES = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A ``SQLMetrics`` display value as a number: counts as-is, sizes in
    bytes, timings in seconds."""
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS.get(unit, _TIMES.get(unit, 1.0))


@dataclass(eq=False)  # spans are identities, hashed by object
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    # filled by Tracer.harvest from Spark's status stores
    jobs: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run}.{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans for one run. ``enabled=False`` makes ``span`` a bare timer."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_exec = -1
        self.harvest_s = 0.0

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None,
                 self.run, 0.0)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float) -> Span:
        """Record a span timed outside the tracer (e.g. session start)."""
        s = Span(len(self.spans), name, None, self.run, start, end)
        if self.enabled:
            self.spans.append(s)
        return s

    # -------------------------------------------------------------- harvest

    def harvest(self) -> None:
        """Attach jobs, stage totals and SQL plan metrics to every finished
        span not yet harvested. Runs between measured calls, never inside a
        span, so its cost shows only as ``harvest_s``."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        todo = [s for s in self.spans if s.end and not s.spark]
        tracker = self.sc.statusTracker()
        job_span = {}
        for s in todo:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                job_span[j] = s
            s.spark = _empty_metrics()
        store = self.sc._jsc.sc().statusStore()
        for s in todo:
            stages = set()
            for j in s.jobs:
                ids = store.job(j).stageIds()
                stages.update(ids.apply(i) for i in range(ids.size()))
            _add_stages(self.sc, store, sorted(stages), s.spark)
        _add_executions(self.spark, job_span, self)
        self.harvest_s += time.perf_counter() - t0

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def totals(self, root: Span) -> dict:
        """Spark metrics of a span and all its descendants, summed
        (``peak_mem_bytes`` and ``task_skew`` take the maximum)."""
        tot = _empty_metrics()
        for s in self.subtree(root):
            for k, v in s.spark.items():
                if k in ("peak_mem_bytes", "task_skew"):
                    tot[k] = max(tot[k], v)
                elif isinstance(v, list):
                    tot[k] = tot[k] + v
                else:
                    tot[k] += v
        return tot

    def self_time(self, span: Span) -> float:
        """Span duration minus the union of its direct children's intervals."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def records(self, top_nodes: int = 5) -> list[dict]:
        """Spans as JSON records, each with its self time and its top plan
        nodes by time and by rows (for humans; not metrics)."""
        out = []
        for s in self.spans:
            nodes = s.spark.get("nodes", [])
            out.append({
                "id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(self.self_time(s), 6),
                "jobs": len(s.jobs),
                "spark": {k: v for k, v in s.spark.items() if k != "nodes"},
                "top_nodes_by_time": sorted(nodes, key=lambda n: -n["time_s"])[:top_nodes],
                "top_nodes_by_rows": sorted(nodes, key=lambda n: -n["rows"])[:top_nodes],
            })
        return out


def _empty_metrics() -> dict:
    return {
        "stages": 0, "tasks": 0, "task_s": 0.0, "task_skew": 0.0,
        "shuffle_bytes": 0, "spill_bytes": 0, "peak_mem_bytes": 0,
        "executions": 0, "exchanges": 0, "rows_out": 0, "files_read": 0,
        "scan_rows": 0, "scans": [], "nodes": [],
    }


def _add_stages(sc, store, stage_ids, acc) -> None:
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    empty = sc._jvm.java.util.ArrayList()
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, True, q)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            n = sd.numCompleteTasks()
            if not n:
                continue  # skipped stage: its work is counted where it ran
            acc["stages"] += 1
            acc["tasks"] += n
            acc["task_s"] += sd.executorRunTime() / 1000.0
            acc["shuffle_bytes"] += sd.shuffleWriteBytes()
            acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            dist = sd.taskMetricsDistributions()
            if dist.isDefined():
                d = dist.get()
                run, peak = d.executorRunTime(), d.peakExecutionMemory()
                acc["peak_mem_bytes"] = max(acc["peak_mem_bytes"], int(peak.apply(1)))
                # skew only where a stage has enough tasks for a median to mean
                # something
                if n >= 4 and run.apply(0) > 0:
                    acc["task_skew"] = max(acc["task_skew"], run.apply(1) / run.apply(0))


_DOT_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*)" tooltip="(.*)"\];')
_TOTAL = " total (min, med, max (stageId: taskId))"


def plan_nodes(dot: str) -> list[tuple[str, str, dict]]:
    """(name, description, metrics) per node of ``SparkPlanGraph.makeDotFile``
    output: one JVM call per execution instead of several per metric."""
    out = []
    for line in dot.splitlines():
        m = _DOT_NODE.match(line)
        if not m:
            continue
        label, desc = m.groups()
        parts = label.split("<br>")
        k = next(i for i, p in enumerate(parts) if p.startswith("<b>"))
        name = parts[k][3:-4].strip()
        rest = [p for p in parts[k + 1:] if p]
        vals, i = {}, 0
        while i < len(rest):
            seg = rest[i]
            if seg.endswith(_TOTAL) and i + 1 < len(rest):
                vals[seg[: -len(_TOTAL)]] = parse_metric(rest[i + 1])
                i += 2
                continue
            if ": " in seg:
                key, value = seg.split(": ", 1)
                vals[key] = parse_metric(value)
            i += 1
        out.append((name, desc, vals))
    return out


def _add_executions(spark, job_span: dict, tracer: Tracer) -> None:
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    newest = tracer._seen_exec
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        if eid <= tracer._seen_exec:
            continue
        newest = max(newest, eid)
        owners = {job_span[j] for j in conv.asJava(e.jobs()).keySet() if j in job_span}
        if len(owners) != 1:
            continue  # no jobs, or jobs of spans harvested earlier
        acc = owners.pop().spark
        acc["executions"] += 1
        for name, desc, vals in plan_nodes(
                ss.planGraph(eid).makeDotFile(ss.executionMetrics(eid))):
            rows = int(vals.get("number of output rows", 0))
            if name == "Exchange":
                acc["exchanges"] += 1
            if name.startswith("Scan "):
                acc["files_read"] += int(vals.get("number of files read", 0))
                acc["scan_rows"] += rows
                acc["scans"].append(desc)
            else:
                acc["rows_out"] += rows
            t = sum(v for k, v in vals.items() if k.endswith("time"))
            acc["nodes"].append({"exec": eid, "node": name, "rows": rows, "time_s": round(t, 4)})
    tracer._seen_exec = newest


def instrument(tracer: Tracer, targets) -> callable:
    """Wrap ``(module, attr, span_name)`` targets in spans; returns undo."""
    saved = []
    for module, attr, name in targets:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*a, __fn=fn, __name=name, **kw):
            with tracer.span(__name):
                return __fn(*a, **kw)

        saved.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def undo():
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)

    return undo
