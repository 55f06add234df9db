"""Spans around public calls, and the per-layer split built from
Spark's event log.

A span is opened by the benchmark around each call into the library.
While it is open the Spark job group is the span id and the job
description is ``<layer>:<call>``, so every job, stage and task in
the event log names the span that caused it. Spans stay in memory and
are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# Layers are the package's modules (``hdfe_spark.operators.<layer>``,
# ``hdfe_spark.sources``, ``hdfe_spark.session``).
LAYERS = (
    "session",
    "sources",
    "groupby",
    "lags",
    "encoding",
    "collinearity",
    "estimate",
    "dedup",
    "text",
    "similarity",
)
LAYER_METRICS = {
    "wall_s": "s",
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "offcpu_s": "s",
    "gc_s": "s",
    "sched_delay_s": "s",
    "shuffle_mb": "MB",
    "scan_ratio": "ratio",
}
ENGINE_METRICS = {
    "engine.spill_mb": "MB",
    "engine.fetch_wait_s": "s",
    "engine.tasks_failed": "count",
    "engine.trace_overhead_s": "s",
}


def layer_of(fn) -> str:
    """The layer a public function belongs to, from its module path."""
    parts = fn.__module__.split(".")
    if parts[:2] == ["hdfe_spark", "operators"]:
        return parts[2]
    return parts[1]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    names = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
    names.update(ENGINE_METRICS)
    return names


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: str | None = None
    pass_no: int | None = None
    table_bytes: int = 0


class Tracer:
    """Records spans; with a SparkContext, labels the jobs run inside
    each span. Labelling sets local properties only: it runs no job."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _label(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.sid, f"{span.layer}:{span.name}")
            self.sc.setJobDescription(f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, name: str, layer: str, pass_no=None, table_bytes: int = 0):
        s = Span(
            sid=f"span-{len(self.spans)}",
            name=name,
            layer=layer,
            start=time.time(),
            parent=self._open[-1].sid if self._open else None,
            pass_no=pass_no,
            table_bytes=table_bytes,
        )
        self.spans.append(s)
        self._open.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._label(self._open[-1] if self._open else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# ------------------------------------------------------------ event log


def parse_event_log(lines) -> tuple[dict, list]:
    """Jobs and tasks from the JSON lines of an uncompressed event log.

    Returns ``(jobs, tasks)``: ``jobs[job_id] = {"group", "start",
    "end"}`` (times in epoch seconds) and one dict per finished task
    with its job group and metrics (seconds and bytes).
    """
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {
                "group": group,
                "start": ev["Submission Time"] / 1e3,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            getting = info.get("Getting Result Time", 0)
            getting_ms = finish - getting if getting > 0 else 0
            run_ms = m.get("Executor Run Time", 0)
            overhead_ms = m.get("Executor Deserialize Time", 0) + m.get(
                "Result Serialization Time", 0
            )
            tasks.append(
                {
                    "group": stage_group.get(ev["Stage ID"]),
                    "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                    "run_s": run_ms / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    # Spark UI definition of scheduler delay.
                    "sched_delay_s": max(
                        0, (finish - launch) - run_ms - overhead_ms - getting_ms
                    )
                    / 1e3,
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                }
            )
    return jobs, tasks


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_times(spans: list[Span], jobs: dict) -> dict[str, dict]:
    """Per span: ``wall_s``; ``self_s`` (wall minus the time its child
    spans cover); ``driver_s`` (wall minus the time covered by the
    jobs of the span and its descendants); ``jobs`` (own jobs)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group: dict[str, list] = {}
    for j in jobs.values():
        if j["group"] is not None and j["end"] is not None:
            by_group.setdefault(j["group"], []).append((j["start"], j["end"]))

    def subtree_jobs(s: Span) -> list:
        out = list(by_group.get(s.sid, []))
        for c in children.get(s.sid, []):
            out += subtree_jobs(c)
        return out

    out = {}
    for s in spans:
        wall = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.sid, [])]
        out[s.sid] = {
            "wall_s": wall,
            "self_s": wall - covered(kids, s.start, s.end),
            "driver_s": wall - covered(subtree_jobs(s), s.start, s.end),
            "jobs": len(by_group.get(s.sid, [])),
        }
    return out


def layer_metrics(
    spans: list[Span], jobs: dict, tasks: list, n_passes: int, overhead_s: float
) -> dict[str, float]:
    """Every per-layer metric: sums over the layer's spans, per timed
    pass (``session`` spans belong to set-up and are not divided).
    Layers the workload does not call read 0."""
    times = span_times(spans, jobs)
    span_layer = {s.sid: s.layer for s in spans}
    acc = {l: dict.fromkeys(LAYER_METRICS, 0.0) for l in LAYERS}
    table_bytes = dict.fromkeys(LAYERS, 0)
    for s in spans:
        if s.layer not in acc:
            continue
        for k in ("wall_s", "self_s", "driver_s", "jobs"):
            acc[s.layer][k] += times[s.sid][k]
        table_bytes[s.layer] += s.table_bytes
    input_bytes = dict.fromkeys(LAYERS, 0)
    engine = {"spill": 0, "fetch": 0.0, "failed": 0}
    for t in tasks:
        layer = span_layer.get(t["group"])
        if layer is None:
            continue
        engine["spill"] += t["spill_bytes"]
        engine["fetch"] += t["fetch_wait_s"]
        engine["failed"] += t["failed"]
        if layer not in acc:
            continue
        a = acc[layer]
        a["tasks"] += 1
        a["task_cpu_s"] += t["cpu_s"]
        a["offcpu_s"] += max(t["run_s"] - t["cpu_s"], 0.0)
        a["gc_s"] += t["gc_s"]
        a["sched_delay_s"] += t["sched_delay_s"]
        a["shuffle_mb"] += t["shuffle_bytes"] / 1e6
        input_bytes[layer] += t["input_bytes"]
    out: dict[str, float] = {}
    for layer, a in acc.items():
        a["scan_ratio"] = input_bytes[layer] / table_bytes[layer] if table_bytes[layer] else 0.0
        div = 1 if layer == "session" else max(n_passes, 1)
        for k, v in a.items():
            out[f"{layer}.{k}"] = v if k == "scan_ratio" else v / div
    out["engine.spill_mb"] = engine["spill"] / 1e6 / max(n_passes, 1)
    out["engine.fetch_wait_s"] = engine["fetch"] / max(n_passes, 1)
    out["engine.tasks_failed"] = float(engine["failed"])
    out["engine.trace_overhead_s"] = overhead_s
    return out
