"""Spans around layer calls, and a stdlib fold of the Spark event log into
per-layer counters.

A span records (name, start, end, parent, run id). In a traced run each
layer span also sets a Spark job group, so every job, stage and task the
event log records can be charged to the layer that caused it. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = [
    "session", "extract", "relations", "parse", "serialize", "nquads",
    "sparql", "dedup", "textstats",
]
COUNTERS = [
    ("busy_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("exec_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MiB"),
    ("shuffle_read_mb", "MiB"), ("spill_mb", "MiB"), ("task_skew", "ratio"),
    ("rows_out", "count"),
]
RATIOS = [
    ("relations.precision", "ratio"), ("relations.recall", "ratio"),
    ("dedup.pair_yield", "ratio"), ("sparql.parse_ms", "ms"),
]
OVERHEAD = [
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"),
    ("trace.overhead", "ratio"), ("trace.coverage", "ratio"),
]
_GROUP_SEP = "|"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [("session.busy_s", "s")]
    for layer in LAYERS[1:]:
        out += [(f"{layer}.{c}", u) for c, u in COUNTERS]
    return out + RATIOS + OVERHEAD


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    rows_out: int = 0


@dataclass
class Tracer:
    """Span recorder. With ``enabled`` off every method is a no-op apart
    from running the wrapped code, so untraced passes pay nothing."""

    run_id: str
    enabled: bool = False
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _held: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(f"{self.run_id}{_GROUP_SEP}{name}{_GROUP_SEP}{idx}", name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    outer = self._stack[-1]
                    sc.setJobGroup(
                        f"{self.run_id}{_GROUP_SEP}{self.spans[outer].name}"
                        f"{_GROUP_SEP}{outer}", self.spans[outer].name,
                    )
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def boundary(self, df):
        """Materialize ``df`` at a layer boundary in a traced pass, so the
        work is charged to the layer that produced it; return the frame the
        next layer should read. Untraced passes get ``df`` back untouched."""
        if not self.enabled:
            return df
        out = df.persist()
        self._held.append(out)
        n = out.count()
        if self._stack:
            self.spans[self._stack[-1]].rows_out += n
        return out

    def release(self) -> None:
        """Unpersist every frame ``boundary`` materialized."""
        while self._held:
            self._held.pop().unpersist()

    def rows(self, n: int) -> None:
        """Add ``n`` output rows to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]].rows_out += n

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: duration minus the time child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
    return out


# event log -----------------------------------------------------------------


@dataclass
class _Layer:
    jobs: int = 0
    job_spans: list = field(default_factory=list)
    tasks: int = 0
    exec_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    stage_tasks: dict = field(default_factory=dict)


def _layer_of(props: dict | None) -> str | None:
    group = (props or {}).get("spark.jobGroup.id") or ""
    parts = group.split(_GROUP_SEP)
    return parts[1] if len(parts) == 3 else None


def fold_event_log(log_dir: str) -> dict[str, _Layer]:
    """Fold every event-log file under ``log_dir`` into per-layer counters,
    charging each job and task to the layer named by its job group."""
    layers: dict[str, _Layer] = {}
    job_start: dict[int, tuple[str, int]] = {}
    stage_layer: dict[int, str] = {}
    paths = [
        os.path.join(d, name) for d, _, names in os.walk(log_dir) for name in names
        if not name.startswith((".", "appstatus"))
    ]
    # rolled files (events_<n>_<app>) in roll order
    for path in sorted(paths, key=lambda p: (len(p), p)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = _layer_of(ev.get("Properties"))
                    if layer is None:
                        continue
                    job_start[ev["Job ID"]] = (layer, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                    layer, t0 = job_start.pop(ev["Job ID"])
                    rec = layers.setdefault(layer, _Layer())
                    rec.jobs += 1
                    rec.job_spans.append((t0 / 1e3, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageSubmitted":
                    layer = _layer_of(ev.get("Properties"))
                    if layer is not None:
                        stage_layer[ev["Stage Info"]["Stage ID"]] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    if layer is None:
                        continue
                    rec = layers.setdefault(layer, _Layer())
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rec.tasks += 1
                    rec.exec_cpu_ns += m.get("Executor CPU Time", 0)
                    rec.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    rec.spill += m.get("Disk Bytes Spilled", 0)
                    rec.stage_tasks.setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    return layers


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def task_skew(stage_tasks: dict[int, list[int]]) -> float:
    """max / p50 task time in the stage holding the layer's longest task
    (the task most likely to hold up the layer); 1.0 without such a stage."""
    stages = [t for t in stage_tasks.values() if len(t) >= 2]
    if not stages:
        return 1.0
    worst = max(stages, key=max)
    p50 = statistics.median(worst)
    return max(worst) / p50 if p50 > 0 else 1.0


def layer_metrics(spans: list[Span], log: dict[str, _Layer], passes: int) -> dict:
    """Per-layer counters, averaged over ``passes`` traced passes."""
    busy = self_times(spans)
    rows: dict[str, int] = {}
    for s in spans:
        rows[s.name] = rows.get(s.name, 0) + s.rows_out
    mib = float(1 << 20)
    out: dict[str, float] = {"session.busy_s": busy.get("session", 0.0)}
    for layer in LAYERS[1:]:
        rec = log.get(layer, _Layer())
        b = busy.get(layer, 0.0)
        vals = {
            "busy_s": b,
            "driver_s": max(0.0, b - _covered(rec.job_spans)),
            "jobs": rec.jobs,
            "tasks": rec.tasks,
            "exec_cpu_s": rec.exec_cpu_ns / 1e9,
            "gc_s": rec.gc_ms / 1e3,
            "shuffle_write_mb": rec.shuffle_write / mib,
            "shuffle_read_mb": rec.shuffle_read / mib,
            "spill_mb": rec.spill / mib,
            "rows_out": rows.get(layer, 0),
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / passes
        out[f"{layer}.task_skew"] = task_skew(rec.stage_tasks)
    return out


# process memory --------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids(root_pid: int) -> list[int]:
    """Java processes descended from ``root_pid``."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        names[int(d)] = stat[stat.index("(") + 1: stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        if names.get(pid) == "java":
            out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the driver Python process plus its
    Spark driver JVM, read from /proc."""
    kb = _status_kb(pid, "VmHWM") + sum(_status_kb(j, "VmHWM") for j in jvm_pids(pid))
    return kb / 1024.0
