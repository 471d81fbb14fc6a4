"""Per-layer attribution: every public call runs under its own Spark job
group, and Spark's event log says which jobs, tasks, executor time and
shuffle bytes each group produced.

The event log must be written uncompressed (``spark.eventLog.compress=
false``): Spark 4.1 compresses it with zstd by default, which the standard
library cannot read.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# the eight catalog layers; each reports the same six counters
LAYERS = ("sources", "models", "jobs", "search_documents", "graph_csv",
          "es_json", "publish", "staleness")
COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "exec_s", "shuffle_mb")
# layers reported per call (``<layer>.<call>.<counter>``), not in total
PER_CALL = ("operators",)
CALL_COUNTERS = ("wall_s", "jobs")


class Tracer:
    """Records one span per wrapped call. With ``enabled=False`` it is a
    pass-through, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.iteration = -1

    @contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield
            return
        gid = f"span{len(self.spans)}"
        rec = {"id": gid, "layer": layer, "call": call,
               "parent": self._stack[-1] if self._stack else None,
               "iter": self.iteration}
        self.spans.append(rec)
        self.sc.setJobGroup(gid, f"{layer}.{call}")
        self._stack.append(gid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall"] = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setJobGroup(rec["parent"] or "untraced", "")

    def wrap(self, layer: str, fn):
        """``fn`` run under a span named after it."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)
        return traced


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, either
    as one file or as a rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` files."""
    paths = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(path):
            rolled = glob.glob(os.path.join(path, "events_*"))
            paths += sorted(rolled, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        else:
            paths.append(path)
    events = []
    for path in paths:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def group_stats(events: list[dict]) -> tuple[dict, list]:
    """Per job group: jobs, tasks, executor seconds and shuffle MB written;
    and every job as (group, submit_s, end_s) in epoch seconds."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple] = []
    stats: dict[str, dict] = defaultdict(lambda: dict.fromkeys(
        ("jobs", "tasks", "exec_s", "shuffle_mb"), 0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id",
                                                    "untraced")
            job_group[e["Job ID"]] = group
            job_start[e["Job ID"]] = e["Submission Time"] / 1000
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            stats[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            jobs.append((job_group.get(jid, "untraced"), job_start.get(jid),
                         e["Completion Time"] / 1000))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"], "untraced")
            m = e.get("Task Metrics") or {}
            s = stats[group]
            s["tasks"] += 1
            s["exec_s"] += m.get("Executor Run Time", 0) / 1000
            s["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
    return dict(stats), jobs


def busy_seconds(intervals: list[tuple], lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals
                       if a is not None and b > lo and a < hi):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[dict], events: list[dict],
                  windows: dict[int, tuple], cores: int) -> dict:
    """Per-layer and scheduler metrics, each the median over the timed
    iterations in ``windows`` (iteration -> (start, end) epoch seconds)."""
    stats, jobs = group_stats(events)
    per_iter = []
    for it, (lo, hi) in sorted(windows.items()):
        m = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        mine = [s for s in spans if s["iter"] == it]
        child_wall = defaultdict(float)
        for s in mine:
            if s["parent"]:
                child_wall[s["parent"]] += s["wall"]
        for s in mine:
            layer = s["layer"]
            if layer in PER_CALL:
                name = f"{layer}.{s['call']}"
                m[f"{name}.wall_s"] = m.get(f"{name}.wall_s", 0) + s["wall"]
                m[f"{name}.jobs"] = (m.get(f"{name}.jobs", 0)
                                     + stats.get(s["id"], {}).get("jobs", 0))
                continue
            parent = next((p for p in mine if p["id"] == s["parent"]), None)
            # nested spans of the same layer count once in its wall time
            if parent is None or parent["layer"] != layer:
                m[f"{layer}.wall_s"] += s["wall"]
            m[f"{layer}.self_s"] += s["wall"] - child_wall[s["id"]]
            for c in ("jobs", "tasks", "exec_s", "shuffle_mb"):
                m[f"{layer}.{c}"] += stats.get(s["id"], {}).get(c, 0)
        in_window = [(a, b) for _, a, b in jobs
                     if a is not None and lo <= a < hi]
        wall = hi - lo
        mine_stats = [stats[s["id"]] for s in mine if s["id"] in stats]
        m["scheduler.jobs"] = len(in_window)
        m["scheduler.tasks"] = sum(st["tasks"] for st in mine_stats)
        m["scheduler.driver_gap_s"] = wall - busy_seconds(in_window, lo, hi)
        m["scheduler.exec_busy_frac"] = sum(
            st["exec_s"] for st in mine_stats) / (wall * cores)
        m["scheduler.iteration_s"] = wall
        m["scheduler.span_cover_frac"] = sum(
            s["wall"] for s in mine if not s["parent"]) / wall
        per_iter.append(m)
    return {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}
