"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent, thread and the Spark job-id
watermark at its start and end. Spans stay in memory and are written
out once, when the run ends.

Only the benchmark's own files install the wrappers below, and only
in the traced run, so the untraced run measures the untouched program.
Wrapping a function that returns a lazy DataFrame times driver-side
planning only; the Spark execution that follows belongs to whichever
span runs the action.

Parenting: a span opened while another span is open on the same
thread is its child. The engine calls into lower layers from its own
thread pools, which inherit neither the caller's span nor its Spark
job group, so a pool-thread span with no same-thread parent is
parented by time containment: to the innermost span of the client
(main) thread whose interval contains it.

Spark jobs are attributed by the change of the driver's job-id
counter over a span. With one client, every job that starts inside a
span's interval belongs to work that span caused or overlapped.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable, Iterable


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    job0: int = 0
    job1: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextlib.contextmanager
    def paused(self):
        yield

    def note_plan(self, df) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, job_counter: Callable[[], int] | None = None,
                 clock: Callable[[], float] = time.monotonic):
        self.spans: list[Span] = []
        self.plans: list = []
        self._job_counter = job_counter or (lambda: 0)
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.main_thread().name
        self._restore: list[tuple[Any, str, Any]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _is_paused(self) -> bool:
        return getattr(self._local, "paused", 0) > 0

    @contextlib.contextmanager
    def paused(self):
        """Benchmark bookkeeping (counting a changelog, listing files)
        runs inside this block: wrapped calls record no spans."""
        self._local.paused = getattr(self._local, "paused", 0) + 1
        try:
            yield
        finally:
            self._local.paused -= 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self._is_paused():
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, 0.0, parent=stack[-1].sid if stack else None,
                      thread=threading.current_thread().name, attrs=dict(attrs))
            self.spans.append(sp)
        sp.job0 = self._job_counter()
        sp.start = self._clock()
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = self._clock()
            sp.job1 = self._job_counter()

    def note_plan(self, df) -> None:
        """Remember a DataFrame an action ran on; its Catalyst phase
        times are read once, when the run ends."""
        if not self._is_paused():
            with self._lock:
                self.plans.append(df)

    def count_changelogs(self) -> int:
        """Rows of every changelog DataFrame recorded since the last
        call (``attrs["df"]`` of ``snapcat.changelog`` spans). Call
        paused, before the snapshots they read can expire."""
        n = 0
        for s in self.spans:
            df = s.attrs.pop("df", None)
            if df is not None:
                n += df.count()
        return n

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner: Any, attr: str, name: str | Callable[..., str],
             on_result: Callable[[Span, tuple, dict, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` (a class method or module function)
        with a span-recording wrapper. Module functions are replaced in
        every module of the engine that imported them by name."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as sp:
                out = orig(*args, **kwargs)
                if sp is not None:
                    if type(out).__name__ == "DataFrame":
                        sp.attrs["lazy"] = True
                    if on_result is not None:
                        with tracer.paused():
                            on_result(sp, args, kwargs, out)
                return out

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        targets = [owner]
        if not isinstance(owner, type):
            pkg = owner.__name__.split(".")[0]
            targets += [m for n, m in list(sys.modules.items())
                        if m is not None and m is not owner
                        and n.split(".")[0] == pkg
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._restore.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        for t, attr, orig in reversed(self._restore):
            setattr(t, attr, orig)
        self._restore.clear()

    # -- analysis ----------------------------------------------------------

    def finalize(self) -> None:
        """Parent pool-thread spans by time containment (see module
        docstring). Call once, after the last span closed."""
        main = [s for s in self.spans if s.thread == self._main]
        for s in self.spans:
            if s.parent is not None or s.thread == self._main:
                continue
            best = None
            for m in main:
                if m.start <= s.start and s.end <= m.end and (
                    best is None or m.duration < best.duration
                ):
                    best = m
            if best is not None:
                s.parent = best.sid

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans
        (overlapping children from a thread pool count once)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered = union_length(
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(s.sid, ()) if c.end > s.start and c.start < s.end
            )
            out[s.sid] = s.duration - covered
        return out

    def busy(self, prefix: str) -> float:
        """Wall seconds during which at least one span named
        ``prefix`` (or ``prefix.*``) was open."""
        return union_length(
            (s.start, s.end) for s in self.spans
            if s.name == prefix or s.name.startswith(prefix + ".")
        )

    def calls(self, prefix: str) -> int:
        return sum(1 for s in self.spans
                   if s.name == prefix or s.name.startswith(prefix + "."))

    def dump(self, path: str, detail: dict[int, tuple[int, int, int]] | None = None,
             extra: dict | None = None) -> None:
        """Write one JSON line per span (with its self time and Spark
        job/stage/task counts from ``detail``), then ``extra``."""
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = st[s.sid]
                row["attrs"] = {k: v for k, v in s.attrs.items()
                                if isinstance(v, (int, float, str, bool))}
                row.update(span_spark(s, detail or {}))
                f.write(json.dumps(row) + "\n")
            if extra:
                f.write(json.dumps(extra) + "\n")


def span_spark(span: Span, detail: dict[int, tuple[int, int, int]]) -> dict[str, int]:
    """Spark jobs started inside the span, with their stage, task and
    failed-task counts (jobs missing from ``detail`` count as jobs
    only)."""
    rows = [detail[j] for j in range(span.job0, span.job1) if j in detail]
    return {"jobs": span.job1 - span.job0, "stages": sum(r[0] for r in rows),
            "tasks": sum(r[1] for r in rows), "failed_tasks": sum(r[2] for r in rows)}


class SparkCounters:
    """Job-id watermark plus job → (stages, tasks, failed tasks) from
    ``statusTracker()``. The watermark is the DAG scheduler's next job
    id: one cheap call, safe to read at every span boundary."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def job_detail(self, lo: int, hi: int) -> dict[int, tuple[int, int, int]]:
        st = self._sc.statusTracker()
        out = {}
        for j in range(lo, hi):
            info = st.getJobInfo(j)
            if info is None:
                continue
            stages = tasks = failed = 0
            for sid in list(info.stageIds):
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage (shuffle output reused)
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
            out[j] = (stages, tasks, failed)
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning milliseconds recorded in the
    DataFrame's query-execution tracker."""
    total = 0.0
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total
