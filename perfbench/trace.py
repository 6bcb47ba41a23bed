"""Traced runs: spans around layer calls, folded with Spark's event log.

A span is a named, timed region with its own Spark job group, so every
job started inside it is attributed to it in the event log.  Each timed
operation is one span.  Layer functions that do eager work of their own
(cover compilation, connected-components rounds) are wrapped at runtime
so their calls become nested spans; nothing under ``hilbert_curve_spark/``
is modified.

``fold_event_log`` reduces a Spark JSON-lines event log to per-job-group
stage metrics: jobs, stages, tasks, executor run and CPU time, GC,
shuffle read/write, spill, input records/bytes, output records/bytes, task wait
(scheduler delay) and the worst max/median task-time ratio of any stage.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from collections.abc import Iterable
from pathlib import Path

GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty(GROUP, None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, module, attr: str, layer: str, measure=None, keep_args: bool = False) -> None:
        """Make every call of ``module.attr`` a nested span; ``measure``
        maps the return value to span attributes."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(attr, layer) as rec:
                out = orig(*args, **kwargs)
                if measure is not None:
                    rec["attrs"].update(measure(out))
                if keep_args:
                    rec["args"] = args
                return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def install_layer_wrappers(self) -> None:
        from hilbert_curve_spark.curve import cover
        from hilbert_curve_spark.operators import graph, range_query, tiles

        ranges = lambda c: {"ranges": len(c.ranges)}  # noqa: E731
        self.wrap(range_query, "cover_box", "curve", ranges)
        self.wrap(tiles, "cover_box", "curve", ranges)
        self.wrap(cover, "cover_polygon", "curve", ranges)
        self.wrap(range_query, "bpc_cover_of_ranges", "curve", lambda p: {"prefixes": len(p)})
        self.wrap(graph, "connected_components", "graph", keep_args=True)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def descendants(self, span_id: str) -> list[dict]:
        out, frontier = [], {span_id}
        for s in self.spans:  # spans are appended in start order
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out


def _task_wait_ms(info: dict, metrics: dict) -> float:
    """Spark UI scheduler delay: task duration not spent deserializing,
    running, serializing the result or shipping it."""
    duration = info["Finish Time"] - info["Launch Time"]
    getting = info.get("Getting Result Time", 0)
    fetch = info["Finish Time"] - getting if getting else 0
    busy = (
        metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Executor Run Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + fetch
    )
    return float(max(0, duration - busy))


def fold_event_log(lines: Iterable[str]) -> dict[str, dict]:
    """Per job group: stage metrics summed over its jobs' tasks."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[tuple[dict, dict]]] = defaultdict(list)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP)
            if group is None:
                continue
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason == "Success" and ev.get("Task Metrics"):
                tasks[ev["Stage ID"]].append((ev["Task Info"], ev["Task Metrics"]))
    out: dict[str, dict] = {}
    for group, n_jobs in jobs.items():
        out[group] = {
            "jobs": n_jobs, "stages": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
            "gc_ms": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_records": 0, "input_bytes": 0,
            "output_bytes": 0, "output_records": 0, "task_wait_ms": 0.0,
            "task_skew": 1.0,
        }
    for stage, rows in tasks.items():
        group = stage_group.get(stage)
        if group is None:
            continue
        g = out[group]
        g["stages"] += 1
        durations = []
        for info, m in rows:
            sr = m.get("Shuffle Read Metrics", {})
            g["tasks"] += 1
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
            g["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            g["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            g["output_records"] += m.get("Output Metrics", {}).get("Records Written", 0)
            g["task_wait_ms"] += _task_wait_ms(info, m)
            durations.append(info["Finish Time"] - info["Launch Time"])
        if len(durations) >= 4:
            med = statistics.median(durations)
            g["task_skew"] = max(g["task_skew"], max(durations) / med if med > 0 else 1.0)
    return out


def read_event_logs(directory: Path) -> dict[str, dict]:
    folded: dict[str, dict] = {}
    for f in sorted(directory.iterdir()):
        if f.is_file() and not f.name.endswith(".inprogress"):
            with open(f) as fh:
                folded.update(fold_event_log(fh))
    return folded


def span_totals(tracer: Tracer, folded: dict[str, dict], span: dict) -> dict:
    """Stage metrics of a span and all its nested spans, summed."""
    keys = ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_records", "input_bytes", "output_bytes", "output_records",
            "task_wait_ms")
    tot = {k: 0 for k in keys}
    tot["task_skew"] = 1.0
    for s in [span, *tracer.descendants(span["id"])]:
        f = folded.get(s["id"])
        if f:
            for k in keys:
                tot[k] += f[k]
            tot["task_skew"] = max(tot["task_skew"], f["task_skew"])
    return tot
