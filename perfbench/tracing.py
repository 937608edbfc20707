"""Tracing from outside the program: wall-clock spans around calls into
each layer, a streaming-progress listener, and the Spark event log.

Nothing here patches ``ytspark``. A traced run

* wraps each layer call in :meth:`Tracer.span`, which records its
  wall window;
* registers :class:`StreamProgress` with ``spark.streams.addListener``,
  which sees every streaming query, including streams a registered
  query starts inside ``fn()``;
* enables the event log (``SPARK_GRAFT_EXTRA_CONF``) and, after the
  session stops, attributes each job to the span whose wall window
  contains its submission. Attribution by time, rather than by Spark
  job group, also counts the jobs a stream's execution thread or a
  helper thread runs, which carry no caller group. The benchmark is a
  single closed-loop client, so windows never overlap.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# StreamingQueryProgress.durationMs phases reported per layer
STREAM_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution",
)


def event_log_conf(event_dir: str) -> str:
    """``SPARK_GRAFT_EXTRA_CONF`` fragment that turns the event log on."""
    return (
        "spark.eventLog.enabled=true;spark.eventLog.compress=false;"
        f"spark.eventLog.dir={event_dir}"
    )


@dataclass
class Span:
    layer: str
    op: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    index: int  # timed-op index in the tally, -1 for warm-up and set-up


class StreamProgress(StreamingQueryListener):
    """Keeps every non-empty ``StreamingQueryProgress`` in memory."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if not p.numInputRows:
            return
        row = {
            "id": str(p.id), "batchId": p.batchId, "rows": p.numInputRows,
            "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "durationMs": dict(p.durationMs),
        }
        with self.lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait for ``n`` of them."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if len(self.progress) >= n:
                    return
            time.sleep(0.02)


class Tracer:
    """Span recorder; a disabled tracer costs one ``if`` per call."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.active = True  # switched per op by the closed loop
        self.spans: list[Span] = []
        self.op_index = -1

    @contextmanager
    def span(self, layer: str, op: str):
        """Record the wall window of a layer call."""
        if not (self.enabled and self.active):
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(layer, op, start, time.time(), self.op_index))


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

def read_event_log(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass
    return events


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: list[int]


def job_census(events: list[dict]) -> tuple[list[Job], dict[int, dict]]:
    """Jobs with their wall spans, and per-stage task totals."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
    })
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = Job(jid, e["Submission Time"] / 1000.0, e["Submission Time"] / 1000.0,
                            list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            s = stages[e["Stage ID"]]
            info = e.get("Task Info", {})
            metrics = e.get("Task Metrics") or {}
            s["tasks"] += 1
            s["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            s["gc_s"] += metrics.get("JVM GC Time", 0) / 1000.0
            sr = metrics.get("Shuffle Read Metrics") or {}
            sw = metrics.get("Shuffle Write Metrics") or {}
            s["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.start), dict(stages)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def attribute(spans: list[Span], jobs: list[Job], stages: dict[int, dict]) -> list[dict]:
    """Per span: jobs submitted in its window, their executed stages and
    tasks, summed task time, GC, shuffle bytes and the driver gap (span
    wall minus the union of its jobs' wall spans)."""
    out = []
    starts = [j.start for j in jobs]
    for sp in spans:
        lo = bisect.bisect_left(starts, sp.start)
        hi = bisect.bisect_right(starts, sp.end)
        mine = jobs[lo:hi]
        ran = [s for j in mine for s in j.stages if s in stages]
        wall = sp.end - sp.start
        busy = _union_length([(max(j.start, sp.start), min(j.end, sp.end)) for j in mine])
        out.append({
            "layer": sp.layer, "op": sp.op, "index": sp.index,
            "start": sp.start, "wall_s": wall,
            "jobs": len(mine), "stages": len(ran),
            "tasks": sum(stages[s]["tasks"] for s in ran),
            "task_s": sum(stages[s]["task_s"] for s in ran),
            "gc_s": sum(stages[s]["gc_s"] for s in ran),
            "shuffle_read_mb": sum(stages[s]["shuffle_read_b"] for s in ran) / 2**20,
            "shuffle_write_mb": sum(stages[s]["shuffle_write_b"] for s in ran) / 2**20,
            "driver_gap_s": max(0.0, wall - busy),
        })
    return out


def per_op_mean(rows: list[dict], layer: str, key: str, n_ops: int, op: str | None = None) -> float:
    """Sum of ``key`` over a layer's spans inside timed ops (optionally
    only spans named ``op``), divided by the number of timed ops."""
    if n_ops <= 0:
        return 0.0
    return sum(
        r[key] for r in rows
        if r["layer"] == layer and r["index"] >= 0 and (op is None or r["op"] == op)
    ) / n_ops


def median_of(rows: list[dict], layer: str, key: str) -> float:
    vals = [r[key] for r in rows if r["layer"] == layer and r["index"] >= 0]
    return statistics.median(vals) if vals else 0.0
