"""Spans and Spark engine metrics for the traced run.

Everything here works from outside the program:

- ``Tracer`` records spans around calls into each layer's public functions
  (``Tracer.wrap``, applied by ``layers.install``) and around the engine
  actions that run Spark jobs (``DataFrame.collect``/``count``/``first``/
  ``isEmpty``/``take``, ``DataFrameWriter.parquet``/``save`` and
  ``DataFrameReader.parquet``). Spans are kept in memory.
- Each wrapper that starts a unit of work tags the Spark job group in the
  thread that triggers the actions. PySpark pins each Python thread to its
  own JVM thread, so the runner's pool workers and the HTTP handler threads
  do not inherit the caller's group; the wrappers set it where the work runs.
- ``read_event_log`` parses Spark's uncompressed local event log into its
  jobs, each with its job group and engine counters.

Self time: ``attribute`` sweeps the span timeline; at each instant the wall
time goes, in equal shares, to the innermost spans then running (spans with
no running descendant). Shares of all spans add up to the root span's wall
time exactly, even when the runner's pool or the server's handler threads
run spans side by side.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPARK = "spark"
#: the local property a job's group is read from (what setJobGroup sets)
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    t0: float
    t1: float | None = None
    parent: int | None = None
    group: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.t1 or self.t0) - self.t0


class Tracer:
    """Spans and counters of one traced run, kept in memory."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    # ---- span primitives --------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str, group: str | None = None) -> Span:
        """Open a span under this thread's innermost open span (or its open
        task span). A ``group`` tags the job group of this thread until the
        span closes."""
        stack = self._stack()
        up = stack[-1] if stack else getattr(self._local, "task", None)
        span = Span(next(self._ids), name, layer, time.time(), parent=up.sid if up else None)
        span.group = group or (up.group if up else None)
        if group is not None:
            span.info["prev_group"] = self._sc.getLocalProperty(JOB_GROUP)
            self._sc.setLocalProperty(JOB_GROUP, group)
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        return span

    def open_task(self, name: str, layer: str, group: str, parent: Span) -> Span:
        """Open a span that stays open after the caller returns: the runner
        issues a task's actions after ``Task.build`` has returned, from the
        same pool thread. Spans this thread opens on an empty stack become
        its children, and the job group stays set. ``close_open`` ends it."""
        span = Span(next(self._ids), name, layer, time.time(), parent=parent.sid, group=group)
        self._sc.setLocalProperty(JOB_GROUP, group)
        with self._lock:
            self.spans.append(span)
        self._local.task = span
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if "prev_group" in span.info:
            # None removes the property
            self._sc.setLocalProperty(JOB_GROUP, span.info.pop("prev_group"))

    def close_open(self, root: Span) -> None:
        """End every span under ``root`` left open by ``open_task`` at the
        end of its last descendant."""
        spans = self.within(root)
        kids = defaultdict(list)
        for s in spans:
            kids[s.parent].append(s)

        def last_end(s: Span) -> float:
            return max([s.t1 or s.t0] + [last_end(c) for c in kids[s.sid]])

        for s in spans:
            if s.t1 is None:
                s.t1 = last_end(s)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        s = self.open(name, layer, group)
        try:
            yield s
        finally:
            self.close(s)

    # ---- wrapping -----------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, group: str | None = None, on_result=None):
        """Replace ``owner.attr`` with a version that runs inside a span (and
        job group, if given) and passes its result to ``on_result``."""
        fn = getattr(owner, attr)
        label = name or attr
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(label, layer, group):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapped)

    def install_engine(self, spark) -> None:
        """Span every engine action that runs Spark jobs."""
        from pyspark.sql import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        self._sc = spark.sparkContext
        for attr in ("collect", "count", "first", "isEmpty", "take", "toPandas"):
            self.wrap(DataFrame, attr, SPARK, name=f"df.{attr}")
        self.wrap(DataFrameWriter, "parquet", SPARK, name="write.parquet")
        self.wrap(DataFrameWriter, "save", SPARK, name="write.save")
        self.wrap(DataFrameReader, "parquet", SPARK, name="read.parquet")

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # ---- analysis -----------------------------------------------------------

    def within(self, root: Span) -> list[Span]:
        """Spans descending from ``root`` (root included)."""
        keep = {root.sid}
        out = [root]
        for s in sorted(self.spans, key=lambda s: s.sid):
            if s.parent in keep and s.sid not in keep:
                keep.add(s.sid)
                out.append(s)
        return out


def attribute(spans: list[Span]) -> dict[int, float]:
    """Wall-time share of each span: every instant is split equally among
    the innermost spans running then. Shares sum to the root's wall time."""
    by_id = {s.sid: s for s in spans}
    edges = sorted({t for s in spans for t in (s.t0, s.t1 or s.t0)})
    share: dict[int, float] = defaultdict(float)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            children[s.parent].append(s)
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = [s for s in spans if s.t0 <= mid < (s.t1 or s.t0)]
        ids = {s.sid for s in active}
        # a span is innermost when none of its descendants is running;
        # checking direct children suffices because an active descendant
        # implies its active ancestors up the chain
        leaves = [s for s in active if not any(c.sid in ids for c in children[s.sid])]
        for s in leaves:
            share[s.sid] += (b - a) / len(leaves)
    return share


def thread_self(spans: list[Span]) -> dict[int, float]:
    """Per-span duration minus the union of its direct children's
    intervals — the self time of a span within its own request."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(children[s.sid], key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1 or c.t0, s.t1 or s.t0)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = s.dur - covered
    return out


# ---- Spark event log ------------------------------------------------------------


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    first_launch_ms: int | None = None
    counters: dict = field(default_factory=lambda: defaultdict(float))


def read_event_log(log_dir: str) -> dict[int, Job]:
    """Parse the one application log in ``log_dir`` into its jobs, each
    with its job group and summed stage and task counters."""
    # Spark 4 writes a rolling log: one directory per application holding
    # events_<n>_<app> parts, read in order of n
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1 or not os.path.isdir(apps[0]):
        raise RuntimeError(f"expected one application log directory in {log_dir}, found {apps}")
    parts = sorted(
        glob.glob(os.path.join(apps[0], "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for part in parts:
        with open(part) as f:
            for line in f:
                _apply(json.loads(line), jobs, stage_job)
    return jobs


def _apply(ev: dict, jobs: dict[int, Job], stage_job: dict[int, Job]) -> None:
    """Fold one event-log record into ``jobs``."""
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        job = jobs[ev["Job ID"]] = Job(props.get("spark.jobGroup.id"), ev["Submission Time"])
        for sid in ev["Stage IDs"]:
            stage_job[sid] = job
    elif kind == "SparkListenerJobEnd":
        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    elif kind == "SparkListenerStageCompleted":
        job = stage_job.get(ev["Stage Info"]["Stage ID"])
        if job is not None:
            job.counters["stages"] += 1
    elif kind == "SparkListenerTaskEnd":
        job = stage_job.get(ev["Stage ID"])
        if job is None:
            return
        launch = ev["Task Info"]["Launch Time"]
        if job.first_launch_ms is None or launch < job.first_launch_ms:
            job.first_launch_ms = launch
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        c = job.counters
        c["tasks"] += 1
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
