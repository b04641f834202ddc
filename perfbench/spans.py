"""Spans around the engine's public calls, and the Spark event-log fold.

A span has a name, a layer, start and end times, a parent span and a
run id. Spans live in memory and are written as JSON lines when the
benchmark ends. In a traced run each call's Spark jobs carry the
span's id as their job group, so the event log's stage metrics fold
back onto the span and its layer.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

LAYERS = ("session", "sources", "geometry", "operators", "text", "vector", "cache")

# the ROADMAP's hot calls that the pipelines run: the only calls with
# per-call metrics (see README.md for the hot calls left out)
HOT_CALLS = {
    "gridify_data": "operators", "intersection_stats_table": "operators",
    "dup_groups_star": "text", "banned_phrase_hits": "text",
    "perplexity_buckets": "text",
}

_EXCHANGE = re.compile(r"(?<!Reused)\b(?:Broadcast)?Exchange\b")


class Span:
    __slots__ = ("id", "run", "name", "layer", "parent", "start", "end", "attrs")

    def __init__(self, sid, run, name, layer, parent):
        self.id, self.run, self.name, self.layer = sid, run, name, layer
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "run": self.run, "name": self.name,
            "layer": self.layer, "parent": self.parent,
            "start": self.start, "end": self.end, "attrs": self.attrs,
        }


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    cheap no-op so untraced runs pay nothing for the hooks."""

    def __init__(self, enabled: bool = False):
        self.sc = None  # the SparkContext whose job group spans set
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run = "setup"

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"s{len(self.spans)}", self.run, name, layer, parent)
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.id, f"{layer}.{name}")
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.id, f"{top.layer}.{top.name}")
        else:
            self.sc.setJobGroup("idle", "between spans")

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(span.as_dict()) + "\n")


def force_plan(df) -> dict:
    """Seconds to build ``df``'s executed plan, and its Exchange count."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"plan_s": time.perf_counter() - t0,
            "exchanges": len(_EXCHANGE.findall(plan))}


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return {s.id: s.duration - child[s.id] for s in spans}


# ------------------------------------------------------------- event log
_STAGE_SUMS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "time to run Python workers": ("py_worker_s", 1e-3),
    "data sent to Python workers": ("py_bytes", 1),
    "data returned from Python workers": ("py_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> summed stage metrics and task count from an
    uncompressed rolling event log under ``log_dir``. Task skew is
    carried as ``skew_w`` / ``busy_ms``: the task-time-weighted mean of
    each stage's max/median task duration, so groups can be summed
    before the division.

    Task metrics (``internal.metrics.*``) are per stage. A SQL metric is
    one accumulator per plan node whose stage value is its running
    total, so it counts once, at its last value, for the group of the
    last stage that reported it."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    sql_last: dict[int, tuple[str, str, float]] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group or "idle"
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    task_ms[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    g = stage_group.get(sid, "idle")
                    for acc in info.get("Accumulables", ()):
                        name = acc.get("Name") or ""
                        key = _STAGE_SUMS.get(name)
                        if key is None:
                            continue
                        value = float(acc.get("Value") or 0) * key[1]
                        if name.startswith("internal.metrics."):
                            groups[g][key[0]] += value
                        else:
                            sql_last[acc["ID"]] = (g, key[0], value)
                    tasks = task_ms.pop(sid, [])
                    groups[g]["tasks"] += len(tasks)
                    if len(tasks) >= 2:
                        busy = sum(tasks)
                        groups[g]["skew_w"] += (
                            busy * max(tasks) / max(statistics.median(tasks), 1))
                        groups[g]["busy_ms"] += busy
    for g, key, value in sql_last.values():
        groups[g][key] += value
    return groups
