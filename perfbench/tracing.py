"""Outside-in tracing for the benchmark's traced runs.

The tracer never edits the engine. It replaces the module and class
attributes that engine code looks up at call time (``serving.
score_shard_blocks``, ``scoring.delta_decode``, ``build.build_index``, the
``ParquetStore`` methods, ...) with wrappers that record a span per call,
and restores the originals when paused or closed. Spans (name, start, end,
parent, op) live in memory and are written out once, when the run ends.

A layer's self time is its spans' duration minus the part of that interval
covered by child spans; the traced wall time minus the layers' self times is
the unattributed remainder, so the two always add up to the wall time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into the span list, -1 for a root span
    op: int  # id of the benchmark operation the span belongs to


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: Σ (duration − time covered by its children), with
    each child clipped to its parent's interval."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent >= 0:
            par = spans[sp.parent]
            s, e = max(sp.start, par.start), min(sp.end, par.end)
            if e > s:
                children.setdefault(sp.parent, []).append((s, e))
    out: dict[str, float] = {}
    for i, sp in enumerate(spans):
        own = (sp.end - sp.start) - merged_length(children.get(i, []))
        out[sp.name] = out.get(sp.name, 0.0) + own
    return out


class Tracer:
    """Span recorder plus the attribute patches that feed it.

    ``enabled=False`` gives a null tracer: ``span`` is a no-op and no patch
    is ever installed, so untraced runs pay nothing inside the engine."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op = 0
        self.wall = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self._installed = False
        self._since: float | None = None

    # ---- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self._installed:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, name: str):
        """A root span for one benchmark operation; its self time is part of
        the unattributed remainder."""
        self.op += 1
        with self.span(f"op.{name}"):
            yield

    @property
    def active(self) -> bool:
        return self._installed

    # ---- patches -------------------------------------------------------
    def patch(self, owner, attr: str, name, on_call=None) -> None:
        """Register a wrapper for ``owner.attr``. ``name`` is a span name or
        a callable (args, kwargs) → span name; ``on_call(args, kwargs,
        result)`` may record counts."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            nm = name(args, kwargs) if callable(name) else name
            with tracer.span(nm):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        self._patches.append((owner, attr, orig, traced))

    def resume(self) -> None:
        if not self.enabled or self._installed:
            return
        for owner, attr, _orig, traced in self._patches:
            setattr(owner, attr, traced)
        self._installed = True
        self._since = time.perf_counter()

    def pause(self) -> None:
        if not self._installed:
            return
        for owner, attr, orig, _traced in self._patches:
            setattr(owner, attr, orig)
        self._installed = False
        self.wall += time.perf_counter() - self._since
        self._since = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


class StageMeter:
    """Spark stage totals (shuffle bytes, spill, executor run time, tasks)
    over an interval, read from the driver's status store — which keeps
    stage data with ``spark.ui.enabled=false`` too."""

    FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "executor_run_s", "tasks")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._last = self._max_stage()

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty(10_000)
        gw = self._gw
        return self._sc.statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        ).iterator()

    def _max_stage(self) -> int:
        it = self._stages()
        return it.next().stageId() if it.hasNext() else -1

    def take(self) -> dict[str, float]:
        """Totals of the stages that started since the previous take. The
        store lists stages newest first, so only new ones are visited."""
        tot = dict.fromkeys(self.FIELDS, 0.0)
        it = self._stages()
        newest = self._last
        while it.hasNext():
            st = it.next()
            sid = st.stageId()
            if sid <= self._last:
                break
            newest = max(newest, sid)
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["executor_run_s"] += st.executorRunTime() / 1000.0
            tot["tasks"] += st.numTasks()
        self._last = newest
        return tot
