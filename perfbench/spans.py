"""Spans and Spark counters for the traced run.

A ``Tracer`` records one span per call into a layer: name, start, end,
parent span and the Spark job group its jobs ran under. Each span that
can launch Spark jobs gets its own job group (``setJobGroup``); when the
span ends, the tracer reads the jobs of that group from the JVM
``AppStatusStore`` and sums their stages' task metrics into the span.
It does this before the store's retention limits can evict them, and the
store is populated with ``spark.ui.enabled=false``, so no UI or REST
endpoint is needed.

Jobs started by a child span belong to the child's group, so a span's
counters cover only the jobs it launched itself; ``Tracer.totals`` adds
a layer's spans up. Streaming micro-batches run on the stream thread,
outside any caller's group, so a ``StreamingQueryListener`` counts them.

Wrapping is done from outside the engine: ``wrap`` replaces a function
in the module namespaces that call it, and ``unwrap_all`` restores them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

STAGE_COUNTERS = {
    # StageData getter -> counter name
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, object] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced run, kept in memory until ``dump``."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself
        self.stream_batches = 0
        self.stream_ms = 0.0
        self._listener = None

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            group=f"{self.run_id}:{len(self.spans)}" if jobs else None,
            start=t - self._t0,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if sp.group:
            self.spark.sparkContext.setJobGroup(sp.group, name)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            t = time.perf_counter()
            self._stack.pop()
            if sp.group:
                sc = self.spark.sparkContext
                sp.counters = self._group_counters(sp.group)
                outer = next((s for s in reversed(self._stack) if s.group), None)
                if outer:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t

    def _group_counters(self, group: str) -> dict[str, float]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0}
        out.update({v: 0 for v in STAGE_COUNTERS.values()})
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                try:
                    stage = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError as e:
                    # stages skipped because their shuffle output was
                    # reused never ran and have no attempt to read
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    continue
                out["stages"] += 1
                for getter, key in STAGE_COUNTERS.items():
                    out[key] += getattr(stage, getter)()
        return out

    def wrap(self, name: str, fn, modules, jobs: bool = True):
        """Replace ``fn`` by a spanned twin wherever ``modules`` hold it
        under its own name (and in its defining module's globals)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs):
                return fn(*args, **kwargs)

        attr = fn.__name__
        for mod in {sys.modules[fn.__module__], *modules}:
            if getattr(mod, attr, None) is fn:
                self._wrapped.append((mod, attr, fn))
                setattr(mod, attr, traced)
        return traced

    def unwrap_all(self) -> None:
        for mod, attr, fn in reversed(self._wrapped):
            setattr(mod, attr, fn)
        self._wrapped.clear()

    # -- streaming --------------------------------------------------------
    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.stream_batches += 1
                tracer.stream_ms += float(
                    event.progress.durationMs.get("triggerExecution", 0)
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.unwrap_all()
        if self._listener is not None:
            # listener events are delivered asynchronously: drain them
            # before the counts are read
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- aggregation ------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def totals(self, name: str) -> dict[str, float]:
        """Seconds, call count and summed counters of every span ``name``
        (nested calls of the same name count once, at the outermost)."""
        by_id = {s.id: s for s in self.spans}
        out: dict[str, float] = {"s": 0.0, "calls": 0}
        for s in self.spans:
            if s.name != name:
                continue
            p, nested = s.parent, False
            while p is not None:
                if by_id[p].name == name:
                    nested = True
                    break
                p = by_id[p].parent
            if nested:
                continue
            out["s"] += s.seconds
            out["calls"] += 1
        for s in self.spans:
            if s.name == name:
                for k, v in s.counters.items():
                    out[k] = out.get(k, 0) + v
        return out

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the union of its children's."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def subtree_counters(self, span: Span) -> dict[str, float]:
        """Counters of ``span`` and every span below it."""
        ids = {span.id}
        out: dict[str, float] = {}
        for s in self.spans:  # parents precede children
            if s.id == span.id or s.parent in ids:
                ids.add(s.id)
                for k, v in s.counters.items():
                    out[k] = out.get(k, 0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, **extra,
                 "spans": [asdict(s) for s in self.spans]},
                fh,
                indent=0,
            )
