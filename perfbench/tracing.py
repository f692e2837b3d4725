"""Per-layer spans, joined to Spark's event log.

A span is opened by the benchmark around each call into one engine module
and named after it (``extract``, ``pagerank``, ``checkpoint`` ...). While a
span is open its id is the Spark job group, so every job Spark runs for
that call carries the id in the event log. After the run the log is read
back (``spark.eventLog.compress=false``, so plain JSON lines) and each
span gets the jobs, task time, CPU, GC, shuffle, spill and output bytes of
its own jobs.

A span's ``wall_s`` is its self time: its duration minus the spans opened
inside it (a ``checkpoint`` write inside ``pagerank.csr``). ``busy_s`` is
the union of its jobs' intervals and ``driver_gap_s`` the rest of its self
time, when no job of the span was running.

Rounds: every setup repetition and every timed section is one round. A
layer's figures are summed within a round and the median is taken across
the rounds in which the layer ran.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

FIELDS = (
    "wall_s", "jobs", "busy_s", "driver_gap_s", "task_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
)
LAYERS = (
    "session", "sources", "extract", "pagerank", "pagerank.csr", "components",
    "labelprop", "triangles", "prepared_graph", "checkpoint",
)
LOOP_LAYERS = ("pagerank", "pagerank.csr", "labelprop")
MB = 1e6


class Span:
    def __init__(self, name: str, span_id: str, round_no: int):
        self.name = name
        self.id = span_id
        self.round = round_no
        self.wall = 0.0
        self.child_wall = 0.0
        self.supersteps = 0


class Tracer:
    """Records spans; tags Spark jobs with the innermost open span only
    when ``enabled`` (the untraced run opens no job groups)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.round = 0
        self._stack: list[Span] = []
        self.spark = None  # set by the caller once a session exists

    def next_round(self) -> None:
        self.round += 1

    def _tag(self, span: Span | None) -> None:
        if self.enabled and self.spark is not None:
            sc = self.spark.sparkContext
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, f"{name}#{len(self.spans)}", self.round)
        self.spans.append(s)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(s)
        self._tag(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                parent.child_wall += s.wall
            self._tag(parent)


class TimedStore:
    """A CheckpointStore whose writes each run in a ``checkpoint`` span."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def write_iteration(self, state, iteration, metrics):
        with self._tracer.span("checkpoint"):
            self._store.write_iteration(state, iteration, metrics)

    def __getattr__(self, name):
        return getattr(self._store, name)


# -- event log ----------------------------------------------------------------


def _read_events(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    # events_<index>_<app id>: order by app directory, then roll index
    files.sort(key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def job_costs(log_dir: str) -> dict[str, dict]:
    """Job group id → summed job and task metrics of the jobs it tagged."""
    job_group: dict[tuple[str, int], str] = {}
    job_start: dict[tuple[str, int], int] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    costs: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    app = ""
    for ev in _read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerLogStart" or kind == "SparkListenerApplicationStart":
            app = ev.get("App ID", app)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            key = (app, ev["Job ID"])
            job_group[key] = group
            job_start[key] = ev["Submission Time"]
            for stage in ev["Stage IDs"]:
                stage_job.setdefault((app, stage), key)
            costs[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            key = (app, ev["Job ID"])
            if key in job_group:
                intervals[job_group[key]].append((job_start[key], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            key = stage_job.get((app, ev["Stage ID"]))
            tm = ev.get("Task Metrics")
            if key is None or tm is None:
                continue
            c = costs[job_group[key]]
            c["task_s"] += tm["Executor Run Time"] / 1e3
            c["cpu_s"] += tm["Executor CPU Time"] / 1e9
            c["gc_s"] += tm["JVM GC Time"] / 1e3
            sr = tm["Shuffle Read Metrics"]
            c["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
            c["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            c["spill_mb"] += tm["Disk Bytes Spilled"] / MB
            c["output_mb"] += tm["Output Metrics"]["Bytes Written"] / MB
    for group, spans in intervals.items():
        costs[group]["busy_s"] = _union_ms(spans) / 1e3
    return costs


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(tracer: Tracer, log_dir: str) -> dict[str, float]:
    """Per-layer figures named ``<layer>.<field>``; a layer that did not run
    in this workload reports 0 for every field."""
    costs = job_costs(log_dir)
    per_round: dict[tuple[str, int], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    write_walls = []
    for s in tracer.spans:
        r = per_round[(s.name, s.round)]
        c = costs.get(s.id, {})
        r["wall_s"] += s.wall - s.child_wall
        for f in FIELDS[1:]:
            r[f] += c.get(f, 0.0)
        r["supersteps"] += s.supersteps
        r["writes"] += 1
        if s.name == "checkpoint":
            write_walls.append(s.wall)
    out: dict[str, float] = {}
    for layer in LAYERS:
        rounds = [v for (name, _), v in per_round.items() if name == layer]
        for r in rounds:
            r["driver_gap_s"] = r["wall_s"] - r["busy_s"]

        def med(field: str) -> float:
            return statistics.median(r[field] for r in rounds) if rounds else 0.0

        for f in FIELDS:
            out[f"{layer}.{f}"] = med(f)
        if layer in LOOP_LAYERS:
            steps = med("supersteps")
            out[f"{layer}.supersteps"] = steps
            out[f"{layer}.jobs_per_superstep"] = out[f"{layer}.jobs"] / steps if steps else 0.0
            out[f"{layer}.driver_gap_per_superstep_s"] = (
                out[f"{layer}.driver_gap_s"] / steps if steps else 0.0
            )
    out["checkpoint.writes"] = statistics.median(
        r["writes"] for (name, _), r in per_round.items() if name == "checkpoint"
    ) if write_walls else 0.0
    out["checkpoint.write_s.p50"] = statistics.median(write_walls) if write_walls else 0.0
    return out
