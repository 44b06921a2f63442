"""Tracing for the benchmark's traced run.

- ``Tracer.span`` records a span (name, start, end, parent, trace id) around a
  call into an engine layer, and tags the Spark jobs it starts with a job
  group named after the span. Spans stay in memory.
- ``ProgressTap`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress, because micro-batches run on the stream's own
  thread, outside the caller's job group.
- ``read_event_log`` parses the uncompressed, non-rolling Spark event log
  after the session stops and attributes jobs, executor run time and shuffle
  bytes to job groups.

With tracing off, ``span`` only yields, so the untraced run carries no
tracing work.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @property
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=f"s{next(self._ids)}",
            name=name,
            trace_id=trace_id or (parent.trace_id if parent else name),
            parent=parent.span_id if parent else None,
            start=time.time(),
        )
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        # micro-batch callbacks run on other threads; their jobs are
        # attributed through the stream listener instead
        if self.spark is None or threading.current_thread() is not threading.main_thread():
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(sp.span_id, sp.name, interruptOnCancel=False)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def progress_tap():
    """A listener recording every micro-batch's progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressTap(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return ProgressTap()


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` pairs for a plain-JSON single-file event log
    (Spark 4.1 otherwise writes a rolling zstd log)."""
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


@dataclass
class GroupStats:
    jobs: int = 0
    intervals: list = field(default_factory=list)  # (start_s, end_s) per job
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job group id -> stats, from the session's event log."""
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")]
    files = files or glob.glob(f"{log_dir}/*")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_run: dict[int, float] = {}
    stage_shuffle: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0,
                                          "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    stage_run[sid] = stage_run.get(sid, 0.0) + m.get("Executor Run Time", 0) / 1000.0
                    w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    stage_shuffle[sid] = stage_shuffle.get(sid, 0) + w
    out: dict[str, GroupStats] = {}
    for job in jobs.values():
        if job["group"] is None:
            continue
        g = out.setdefault(job["group"], GroupStats())
        g.jobs += 1
        g.intervals.append((job["start"], job["end"] or job["start"]))
    for sid, jid in stage_job.items():
        group = jobs[jid]["group"]
        if group is None:
            continue
        out[group].executor_run_s += stage_run.get(sid, 0.0)
        out[group].shuffle_bytes += stage_shuffle.get(sid, 0)
    return out


def covered_seconds(intervals: list, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
