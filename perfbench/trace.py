"""Spans around the benchmark's calls into each layer, and the Spark
status-store reads that turn them into per-layer numbers.

A span records its name, start, end, parent span and request id, and tags a
Spark job group for its duration, so every job launched inside it can be
found afterwards with ``statusTracker().getJobIdsForGroup``. Spans stay in
memory; the status store is read only by ``Tracer.job_stats`` after the
timed region. The untraced run uses the same call sites with
``Tracer(enabled=False)``, whose ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import json
import time
import typing as tp

_GROUP_PROP = "spark.jobGroup.id"


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    parent: tp.Optional[int]
    request: tp.Optional[int]
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclasses.dataclass
class Job:
    jid: int
    submitted: float  # seconds since the epoch
    completed: float
    stages: int
    tasks: int
    run_s: float  # executorRunTime over the job's stages
    shuffle_read: int  # bytes
    shuffle_write: int
    spill: int


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: tp.List[Span] = []
        self.request: tp.Optional[int] = None
        self._stack: tp.List[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(next(self._ids), name, parent, self.request, time.time())
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, s.group)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev)
            self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span named ``name``."""
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    @contextlib.contextmanager
    def request_span(self, name: str, rid: int):
        """The root span of one request; spans opened inside it carry
        ``rid``."""
        self.request = rid
        try:
            with self.span(name):
                yield
        finally:
            self.request = None

    # -- after the timed region ------------------------------------------

    def job_stats(self, spans: tp.List[Span]) -> tp.Dict[int, tp.List[Job]]:
        """Jobs per span id of ``spans``, read from the status store. Call
        only after the timed region: it waits for the listener bus to
        drain."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # not reachable through py4j: give it a moment
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out: tp.Dict[int, tp.List[Job]] = {}
        for s in spans:
            jobs = []
            for jid in tracker.getJobIdsForGroup(s.group):
                j = store.job(jid)
                info = tracker.getJobInfo(jid)
                run_ms = rd = wr = sp = 0
                n_stages = 0
                for sid in info.stageIds if info else []:
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its output was reused
                    n_stages += 1
                    run_ms += sd.executorRunTime()
                    rd += sd.shuffleReadBytes()
                    wr += sd.shuffleWriteBytes()
                    sp += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sub, comp = j.submissionTime(), j.completionTime()
                jobs.append(Job(
                    jid,
                    sub.get().getTime() / 1e3 if sub.isDefined() else s.start,
                    comp.get().getTime() / 1e3 if comp.isDefined() else s.end,
                    n_stages, j.numCompletedTasks(), run_ms / 1e3, rd, wr, sp,
                ))
            out[s.sid] = jobs
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(dataclasses.asdict(s)) + "\n")


def union_len(start: float, end: float, intervals: tp.Iterable[tuple]) -> float:
    """Length of [start, end] covered by the union of (a, b) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(start, a), min(end, b)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _children(spans: tp.List[Span]) -> tp.Dict[int, tp.List[Span]]:
    kids: tp.Dict[int, tp.List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_time(spans: tp.List[Span], name: str) -> float:
    """Total self time of the spans named ``name``: each span's duration
    minus the part of it that its child spans cover."""
    kids = _children(spans)
    return sum(
        s.dur - union_len(s.start, s.end, [(c.start, c.end) for c in kids.get(s.sid, [])])
        for s in spans
        if s.name == name
    )


def subtree(spans: tp.List[Span], root: Span) -> tp.List[Span]:
    kids = _children(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out
