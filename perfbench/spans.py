"""Traced-run observation from the benchmark's own files: reads of the
Spark status store, and span-recording wrappers around the program's
public functions.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
A span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


# -- status store -------------------------------------------------------------

@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def _ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def job_submit_times(spark, since: float, until: float) -> list[float]:
    """Submission times (epoch seconds) of the jobs submitted in
    [since, until]."""
    jvm = spark.sparkContext._jvm
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(
        jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        t = _ms(jobs.apply(i).submissionTime())
        if t is not None and since <= t / 1e3 <= until:
            out.append(t / 1e3)
    return out


def stage_totals(spark, since: float, until: float) -> StageTotals:
    """Executor work of the stages submitted in [since, until] (epoch s)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    tot = StageTotals()
    mb = 1e6
    for i in range(stages.size()):
        s = stages.apply(i)
        t = _ms(s.submissionTime())
        if t is None or not since <= t / 1e3 <= until:
            continue
        tot.stages += 1
        tot.tasks += s.numTasks()
        tot.run_s += s.executorRunTime() / 1e3
        tot.cpu_s += s.executorCpuTime() / 1e9
        tot.gc_s += s.jvmGcTime() / 1e3
        tot.shuffle_read_mb += s.shuffleReadBytes() / mb
        tot.shuffle_write_mb += s.shuffleWriteBytes() / mb
        tot.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
    return tot


# -- spans ----------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    tag: object
    count: int = 0   # items the call handled, where a result hook sets it


class Tracer:
    """Records spans around calls into the program. ``patch`` replaces an
    attribute with a recording wrapper; ``restore`` puts every original
    back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, tag=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if tag is None and parent is not None:
            tag = self.spans[parent].tag
        sp = Span(name, time.time(), 0.0, parent, tag)
        self.spans.append(sp)
        stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, name: str, fn, tag_of=None, result_hook=None):
        def traced(*args, **kwargs):
            tag = tag_of(args, kwargs) if tag_of else None
            with self.span(name, tag) as sp:
                out = fn(*args, **kwargs)
            if result_hook is not None:
                result_hook(sp, out)
            return out

        traced.__wrapped__ = fn
        return traced

    def replace(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        self.replace(owner, attr, self.wrap(name, getattr(owner, attr), **kw))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries --------------------------------------------------------------

    def totals(self, since: float = 0.0) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, sp in enumerate(self.spans):
            if sp.start < since:
                continue
            d = out[sp.name]
            d["calls"] += 1
            d["total_s"] += sp.end - sp.start
            d["self_s"] += sp.end - sp.start - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f, default=str)
