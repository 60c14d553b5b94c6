"""Spans recorded around the benchmark's calls into the package, and the
Spark event log folded into per-span stats.

A span is ``{id, name, step, parent, start, end}``, kept in memory and
written out when the run ends. While a span is open, Spark jobs started
from the driver carry its id as their job group, so the event log's
stages and tasks can be charged to the innermost open span. A step (one
crawl batch or one archive round trip) is itself a span; jobs started
inside it but outside any child span are charged to the step's self time.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        """``sc`` is the SparkContext whose job group tracks the open span;
        None records nothing (the untraced run)."""
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def open(self, name: str, step: int | None = None) -> dict | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": "span-%d" % len(self.spans),
            "name": name,
            "step": step if step is not None else (parent or {}).get("step"),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], name)
        return span

    def close(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.perf_counter()
        self._stack.remove(span)
        group = self._stack[-1]["id"] if self._stack else "untraced"
        self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def fold_event_log(path: str) -> dict[str, dict]:
    """{job group: {jobs, tasks, busy_s, shuffle_write_mb, spill_mb,
    skew}} from one Spark event log. ``skew`` is max/median task time of
    the group's stage with the most executor time."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_busy: dict[int, float] = {}

    def group_of(props: dict | None) -> str | None:
        return (props or {}).get("spark.jobGroup.id")

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = group_of(ev.get("Properties"))
                if g is None:
                    continue
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                _acc(groups, g)["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = stage_group.get(sid)
                if g is None:
                    continue
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                acc = _acc(groups, g)
                run_s = m.get("Executor Run Time", 0) / 1e3
                acc["tasks"] += 1
                acc["busy_s"] += run_s
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                stage_tasks.setdefault(sid, []).append(dur)
                stage_busy[sid] = stage_busy.get(sid, 0.0) + run_s
    # skew: the dominant stage of each group
    best: dict[str, int] = {}
    for sid, busy in stage_busy.items():
        g = stage_group[sid]
        if g not in best or busy > stage_busy[best[g]]:
            best[g] = sid
    for g, sid in best.items():
        ts = stage_tasks[sid]
        med = statistics.median(ts)
        groups[g]["skew"] = max(ts) / med if med > 0 else 1.0
    return groups


def _acc(groups: dict, g: str) -> dict:
    return groups.setdefault(
        g, {"jobs": 0, "tasks": 0, "busy_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "skew": 1.0},
    )
