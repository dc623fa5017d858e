"""Spans around calls into the program, timed from outside it.

The benchmark never edits the program. It wraps the public methods of each
source and target *instance* it creates (instance attributes shadow the
class methods, so the object's own internal calls are timed too), and it
opens a span around each ``ConversionController.sync`` call and around each
registry entry's plan build and execution. Every span runs under its own Spark job group, so the jobs,
stages and tasks it fired are read back exactly from ``statusTracker``.

A disabled tracer wraps nothing and sets no job group: untraced runs
measure the program alone.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import contextmanager
from typing import Any, Container, Iterable


class Tracer:
    def __init__(self, spark: Any, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: Any = None
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-{os.getpid()}-{self._next_id}",
        }
        sc = self.spark.sparkContext
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def count_jobs(self, op_id: Any) -> None:
        """Fill jobs/stages/tasks on every span of ``op_id`` (call once the
        op is done: waits for Spark's listener bus to drain first)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for rec in self.spans:
            if rec["op"] != op_id or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None and stage.numCompletedTasks:
                        stages += 1
                        tasks += stage.numCompletedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def instrument(self, obj: Any, layer: str, labels: dict[str, str] | None = None) -> Any:
        """Wrap every public method of ``obj`` in a span named
        ``<layer>.<label>``; ``labels`` maps a method name to its label
        (default: the method name). Returns ``obj``."""
        if not self.enabled:
            return obj
        labels = labels or {}
        for attr in dir(type(obj)):
            if attr.startswith("_"):
                continue
            method = getattr(obj, attr, None)
            if callable(method) and not isinstance(method, type):
                setattr(obj, attr, self._wrap(method, f"{layer}.{labels.get(attr, attr)}"))
        return obj

    def _wrap(self, method, name: str):
        @functools.wraps(method)
        def call(*args, **kwargs):
            with self.span(name):
                return method(*args, **kwargs)

        return call


# -- span arithmetic ---------------------------------------------------------


def _children(spans: Iterable[dict]) -> dict[Any, list[dict]]:
    out: dict[Any, list[dict]] = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` that are not nested in another span of the same
    name (a re-entrant call is counted once, by its outermost span)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _subtree_sum(s: dict, kids: dict[Any, list[dict]], key: str) -> int:
    return s.get(key, 0) + sum(_subtree_sum(c, kids, key) for c in kids.get(s["id"], ()))


def layer_totals(spans: list[dict], name: str) -> dict[str, float]:
    """Inclusive busy seconds, jobs and tasks of the outermost spans called
    ``name`` (jobs and tasks include those of their child spans)."""
    kids = _children(spans)
    top = _outermost(spans, name)
    out: dict[str, float] = {"s": sum(s["end"] - s["start"] for s in top)}
    for key in ("jobs", "tasks"):
        out[key] = sum(_subtree_sum(s, kids, key) for s in top)
    return out


def self_seconds(spans: list[dict], name: str, reported: Container[str]) -> tuple[float, float]:
    """For the spans called ``name``: (wall time not covered by a direct
    child span, time covered by direct children whose name is not in
    ``reported``)."""
    kids = _children(spans)
    own = other = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        own += s["end"] - s["start"]
        for c in kids.get(s["id"], ()):
            own -= c["end"] - c["start"]
            if c["name"] not in reported:
                other += c["end"] - c["start"]
    return own, other


def per_op_median(spans: list[dict], ops: list[Any], name: str, key: str) -> float:
    """Median over ``ops`` of one layer's per-op total (0 for no ops). Counts
    take the lower median, so they stay exact counts of one op."""
    values = [layer_totals([s for s in spans if s["op"] == op], name)[key] for op in ops]
    if not values:
        return 0
    return statistics.median(values) if key == "s" else statistics.median_low(values)
