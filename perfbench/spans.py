"""Spans, Spark job groups and event-log counters for the traced run.

The benchmark traces the program from outside: ``Tracer.install`` wraps the
public functions of the layers named in ``LAYERS`` so that every call opens a
span, and every span runs under its own Spark job group. Nothing in the
program is edited; the wrappers are removed by ``Tracer.uninstall``.

* A span records name, layer, start, end, parent, the pass it belongs to and
  the ids of the jobs run in its group (from ``statusTracker``).
* Self time is a span's duration minus the union of its children's
  intervals.
* Task counters (stages, tasks, shuffle bytes, spill, GC, executor CPU) come
  from Spark's event log, which the traced session writes into the work
  directory; ``EventLog`` parses it and attributes every job to its span by
  job group.

Spans are kept in memory and written out by ``Tracer.dump`` at the end.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator, Optional

PKG = "manufacturing_data_integration_tool_spark"

# layer name -> (module, functions to wrap; None = every public function the
# module defines)
LAYERS: dict[str, tuple[str, Optional[tuple[str, ...]]]] = {
    "config": (f"{PKG}.config", ("load_config",)),
    "sources.readers": (f"{PKG}.sources.readers", ("read_source_csv", "read_table")),
    "plans.validator": (f"{PKG}.plans.validator", ("validate",)),
    "pipeline": (f"{PKG}.pipeline", ("run_etl_pipeline",)),
    "sources.sinks": (f"{PKG}.sources.sinks", ("write_valid", "write_errors")),
    "ops.graph": (f"{PKG}.ops.graph", None),
    "ops.text": (f"{PKG}.ops.text", None),
    "ops.dedup": (f"{PKG}.ops.dedup", None),
    "ops.similarity": (f"{PKG}.ops.similarity", None),
    "ops._materialize": (
        f"{PKG}.ops._materialize",
        ("materialize_once", "checkpoint_round", "checkpoint_round_eager"),
    ),
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: Optional[int]
    pass_no: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _public_functions(mod) -> dict[str, Callable]:
    names = getattr(mod, "__all__", None) or [n for n in vars(mod) if not n.startswith("_")]
    out = {}
    for n in names:
        fn = getattr(mod, n, None)
        if inspect.isfunction(fn) and fn.__module__ == mod.__name__:
            out[n] = fn
    return out


class Tracer:
    """In-memory span recorder with one Spark job group per span."""

    def __init__(self):
        self.sc = None  # the current SparkContext, set after each session start
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, Callable]] = []
        self.pass_no = -1

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[Span]:
        """Record one span; jobs started inside it run in its own job group."""
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, layer, parent and parent.id, self.pass_no, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"span-{span.id}", name, False)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(f"span-{span.id}"))
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.id}", parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        """Wrap each layer's public functions, in their module and wherever
        another loaded module of the program bound the same object."""
        import importlib

        targets: dict[int, tuple[Callable, Callable]] = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            fns = _public_functions(mod) if names is None else {n: getattr(mod, n) for n in names}
            for n, fn in fns.items():
                targets[id(fn)] = (fn, self._wrap(fn, f"{layer}.{n}", layer))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "__spark_entry__" or modname.startswith(PKG)):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patches):
            setattr(mod, attr, val)
        self._patches.clear()

    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- analysis ---------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, span: Span, kids: dict[int, list[Span]]) -> float:
        covered = _union([(c.start, c.end) for c in kids.get(span.id, [])])
        return span.dur - covered

    def layer_spans(self, layer: str, pass_no: int) -> list[Span]:
        """Outermost spans of ``layer`` in one pass (a nested call into the
        same layer is not counted twice)."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.layer != layer or s.pass_no != pass_no:
                continue
            p = s.parent
            while p is not None and by_id[p].layer != layer:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def subtree_jobs(self, span: Span, kids: dict[int, list[Span]]) -> list[int]:
        jobs = list(span.jobs)
        for c in kids.get(span.id, []):
            jobs += self.subtree_jobs(c, kids)
        return jobs

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

_EXCHANGE = re.compile(
    r"^[\s|:+-]*(?:\*\(\d+\) )?Exchange (hashpartitioning|RoundRobinPartitioning|SinglePartition|rangepartitioning)"
)


def final_plan_lines(description: str) -> list[str]:
    """Lines of a ``simple``-mode plan description that belong to final
    plans: every ``== Initial Plan ==`` subtree of an adaptive plan is
    dropped."""
    out, skip_deeper_than = [], None
    for line in description.split("\n"):
        depth = len(line) - len(line.lstrip(" |:+-"))
        if skip_deeper_than is not None:
            if depth > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "== Initial Plan ==" in line:
            skip_deeper_than = depth
            continue
        out.append(line)
    return out


@dataclass
class JobStats:
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    cpu_ns: int = 0

    def add(self, other: "JobStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class EventLog:
    """Per-job task counters and per-SQL-execution final plans, parsed from
    the event log of one application (``<log dir>/eventlog_v2_<app id>``)."""

    def __init__(self, app_dir: str):
        self.jobs: dict[int, JobStats] = {}
        self.job_execution: dict[int, int] = {}
        self.plans: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        for path in _event_files(app_dir):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        self.jobs[jid] = JobStats()
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                        exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                        if exec_id is not None:
                            self.job_execution[jid] = int(exec_id)
                    elif kind == "SparkListenerStageCompleted":
                        # counts stages that ran; skipped ones never complete
                        jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                        if jid is not None:
                            self.jobs[jid].stages += 1
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        if jid is None:
                            continue
                        st = self.jobs[jid]
                        st.tasks += 1
                        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                            st.failed_tasks += 1
                        m = ev.get("Task Metrics") or {}
                        st.gc_ms += m.get("JVM GC Time", 0)
                        st.cpu_ns += m.get("Executor CPU Time", 0)
                        st.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        r = m.get("Shuffle Read Metrics") or {}
                        st.shuffle_read_bytes += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"
                    ):
                        # the last description of an execution is its final
                        # (post-AQE) plan
                        self.plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")

    def stats(self, job_ids) -> JobStats:
        out = JobStats()
        for j in job_ids:
            if j in self.jobs:
                out.add(self.jobs[j])
        return out

    def exchanges(self, job_ids) -> tuple[int, int]:
        """(all shuffle exchanges, round-robin exchanges) in the final plans
        of the SQL executions that ran these jobs."""
        execs = {self.job_execution[j] for j in job_ids if j in self.job_execution}
        total = rr = 0
        for e in execs:
            for line in final_plan_lines(self.plans.get(e, "")):
                m = _EXCHANGE.match(line)
                if m:
                    total += 1
                    rr += m.group(1) == "RoundRobinPartitioning"
        return total, rr


def _event_files(app_dir: str) -> list[str]:
    """Event files of one application, in write order (the session is
    configured for uncompressed logs)."""
    paths = glob.glob(os.path.join(app_dir, "events_*"))
    return sorted((p for p in paths if not p.endswith(".crc")), key=lambda p: int(p.split("_")[-2]))
