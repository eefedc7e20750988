"""Spans around calls into the engine's modules, attributed Spark work.

Tracing is on only in a ``--trace 1`` run.  A span records name, start,
end, parent span and run id; while it is open its id is the Spark job
group, so every job launched inside the call is attributed to it.  The
engine is not edited: spans come from wrapping public module functions
for the length of one traced operation.  Spans stay in memory; the
event log Spark writes during the run is parsed once after the session
stops, which gives each job group its jobs, stages, tasks, shuffle,
spill, executor time and GC time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.span_id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, span: Span) -> list[Span]:
        """The span and every span opened inside it."""
        ids, out = {span.span_id}, [span]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.span_id)
                out.append(s)
        return out

    @contextlib.contextmanager
    def wrapped(self, qualnames: list[str], on_return=None):
        """Open a span named ``module.function`` around every call of
        the listed ``gfwspark`` functions while the block runs.
        ``on_return(name, result)`` sees each return value."""
        saved = []
        for q in qualnames:
            mod_name, fn_name = q.split(".")
            mod = importlib.import_module(f"gfwspark.{mod_name}")
            fn = getattr(mod, fn_name)
            saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, self._wrap(q, fn, on_return))
        try:
            yield
        finally:
            for mod, fn_name, fn in saved:
                setattr(mod, fn_name, fn)

    def _wrap(self, name, fn, on_return):
        @functools.wraps(fn)
        def call(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if on_return is not None:
                on_return(name, out)
            return out

        return call

    def dump(self, path: Path) -> None:
        path.write_text(
            json.dumps(
                [
                    {"span_id": s.span_id, "name": s.name, "parent": s.parent,
                     "run_id": s.run_id, "start": s.start, "end": s.end}
                    for s in self.spans
                ],
                indent=1,
            )
        )


@contextlib.contextmanager
def counting_local_checkpoints(tracer: Tracer, counts: dict[str, int]):
    """Count DataFrame.localCheckpoint calls while the block runs, by
    the name of the outermost open span."""
    cls = type(tracer.spark.range(0))
    orig = cls.localCheckpoint

    @functools.wraps(orig)
    def counted(self, *a, **kw):
        root = tracer._stack[0].name if tracer._stack else ""
        counts[root] = counts.get(root, 0) + 1
        return orig(self, *a, **kw)

    cls.localCheckpoint = counted
    try:
        yield
    finally:
        cls.localCheckpoint = orig


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "executor_run_s", "gc_s",
)


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: the COUNTERS summed over the group's jobs."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    stages_run: set[tuple[str, int]] = set()
    groups: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return groups.setdefault(g, dict.fromkeys(COUNTERS, 0))

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                bucket(g)["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid, "")
                b = bucket(g)
                stages_run.add((g, sid))
                b["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for g, _ in stages_run:
        groups[g]["stages"] += 1
    return groups


def sum_groups(groups: dict[str, dict[str, float]], span_ids) -> dict[str, float]:
    out = dict.fromkeys(COUNTERS, 0)
    for sid in span_ids:
        for k, v in groups.get(sid, {}).items():
            out[k] += v
    return out


def exchanges(df: DataFrame) -> int:
    """Exchange operators (shuffle and broadcast) in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if "Exchange " in line and "ReusedExchange" not in line
    )
