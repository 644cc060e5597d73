"""In-memory span tracer and the per-layer numbers derived from it.

A traced run wraps the public functions of each layer module *where their
caller looks them up* (a module attribute, or a name bound by
``from ... import``), so no program file changes. Each span records its
name, start, end and parent, keeps its thread's Spark job group while open
(so the event log attributes jobs, stages and tasks to it), and counts the
py4j round-trips its thread makes. Spans stay in memory and are written out
once, when the run ends.

Spark-side numbers come from the event log (enabled for traced runs only),
parsed with the standard library after the session stops, and per-trigger
streaming durations from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    group: str | None = None
    py4j_calls: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.sid]
        )
        out[s.sid] = (s.end - s.start) - covered
    return out


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Span recorder. ``enabled=False`` makes :meth:`span` a no-op, so the
    untraced run goes through the same code with no recording."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._root: int | None = None
        self._t0 = time.perf_counter()
        self._wall0 = time.time()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        # the tracer's own py4j calls are not counted against the span
        self._local.quiet = True
        try:
            self._sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._local.quiet = False

    def open(self, name: str, job_group: bool = True) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # a span opened on another thread (a foreachBatch callback) hangs
        # under the operation that is open on the main thread
        parent = stack[-1].sid if stack else self._root
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), parent)
            self.spans.append(span)
        if parent is None:
            self._root = span.sid
        if job_group:
            span.group = f"perfbench-span-{span.sid}"
            self._set_group(span.group)
        stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if span.sid == self._root:
            self._root = None
        if span.group is not None:
            outer = next((s.group for s in reversed(stack) if s.group), None)
            self._set_group(outer)

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = True):
        s = self.open(name, job_group)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, owner, attr: str, name: str, job_group: bool = True, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``after`` is
        called with (args, kwargs, result) once the span has closed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self.open(name, job_group)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None and self.enabled:
                after(args, kwargs, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    # -- py4j round-trips ----------------------------------------------------

    def count_py4j(self) -> None:
        """Count py4j commands per open span, with the filter the repo's
        construction audit uses: memory (GC detach) commands are skipped and
        only the thread that owns the span is counted."""
        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        import py4j.protocol as proto

        tracer = self

        def counting(orig):
            def send_command(client, command, *a, **k):
                local = tracer._local
                if not getattr(local, "quiet", False) and not (
                    isinstance(command, str)
                    and command.startswith(proto.MEMORY_COMMAND_NAME)
                ):
                    stack = getattr(local, "stack", None)
                    if stack:
                        stack[-1].py4j_calls += 1
                return orig(client, command, *a, **k)

            return send_command

        # capture both originals first so a subclass is never counted twice
        orig_cs, orig_jg = cs.JavaClient.send_command, jg.GatewayClient.send_command
        self._patches.append((cs.JavaClient, "send_command", orig_cs))
        self._patches.append((jg.GatewayClient, "send_command", orig_jg))
        cs.JavaClient.send_command = counting(orig_cs)
        jg.GatewayClient.send_command = counting(orig_jg)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ----------------------------------------------------------------

    def wall(self, t: float) -> float:
        """perf_counter value -> epoch seconds."""
        return self._wall0 + (t - self._t0)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start": self.wall(s.start), "end": self.wall(s.end),
                    "group": s.group, "py4j_calls": s.py4j_calls,
                }) + "\n")

    def windows(self, name: str = "op") -> list[tuple[float, float]]:
        """Epoch-second intervals of the spans called ``name``."""
        return [(self.wall(s.start), self.wall(s.end)) for s in self.spans if s.name == name]

    def layer_times(self) -> dict[str, float]:
        """Self seconds per span name."""
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.sid]
        return out


class TriggerListener:
    """Collects every streaming trigger's ``durationMs`` breakdown and the
    state stores' commit time. Registered in untraced runs too: the
    trigger latency metrics come from ``triggerExecution``."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self._done = threading.Event()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs)
                d["start"] = datetime.fromisoformat(p.timestamp).timestamp()
                d["numInputRows"] = p.numInputRows
                d["stateCommitMs"] = sum(
                    int(s.commitTimeMs or 0) for s in (p.stateOperators or [])
                )
                outer.progress.append(d)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._done.set()

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def reset(self) -> None:
        self.progress = []
        self._done.clear()

    def wait_terminated(self, timeout: float = 30.0) -> None:
        """The listener bus is asynchronous and in order: once the
        terminated event is in, every progress event of that query is."""
        if not self._done.wait(timeout):
            raise RuntimeError("streaming listener saw no termination event")


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of an uncompressed event log, single-file or rolling
    (``eventlog_v2_*/events_<n>_*``)."""
    def order(path):
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    events = []
    for path in sorted(paths, key=order):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_totals(events: list[dict], select) -> dict:
    """Job/stage/task counters for the jobs for which ``select(group,
    submitted)`` is true (job group id, epoch seconds), plus each selected
    job's group, so callers can attribute jobs to spans."""
    jobs, job_end, stage_job = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            props = e.get("Properties") or {}
            if select(props.get("spark.jobGroup.id"), t):
                jobs[e["Job ID"]] = {
                    "start": t,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": e.get("Stage IDs", []),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000.0
    out = defaultdict(float)
    stages_run = set()
    intervals = []
    for jid, j in jobs.items():
        intervals.append((j["start"], job_end.get(jid, j["start"])))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stage_job:
            continue
        stages_run.add(e["Stage ID"])
        info = e.get("Task Info") or {}
        m = e.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        out["tasks"] += 1
        out["executor_run_s"] += run_ms / 1000.0
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        # scheduler delay as the Spark UI derives it
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        overhead = (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                    + info.get("Getting Result Time", 0))
        out["scheduler_delay_s"] += max(0, duration - run_ms - overhead) / 1000.0
    out["jobs"] = len(jobs)
    out["stages"] = len(stages_run)
    out["action_s"] = _union_length(intervals)
    out["job_groups"] = [j["group"] for j in jobs.values()]
    return out
