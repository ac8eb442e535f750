"""Layer tracing from outside the package.

Nothing here edits ``pipetree_spark``: each layer is measured at its
public boundary while a :class:`Tracer` is installed.

- ``pipeline``: ``Pipeline.from_spec`` and ``pipeline.content_key`` are
  wrapped; ``Pipeline.run`` is timed at the benchmark's call site.
- ``cache``: :class:`TracedCache`, an ``ArtifactCache`` subclass passed to
  ``Pipeline.run``, times ``has``/``load``/``materialize`` and sums the
  bytes each materialize wrote.
- ``catalog``: ``load_table`` is wrapped in every package module that
  imported it.
- py4j: every ``send_command`` is one RPC to the JVM and is counted.
- ``spark``: each operation runs under its own job group; afterwards the
  group's jobs and stages are read from the live status store (the UI is
  off, so no event log is needed).

Spans stay in memory (:attr:`Tracer.spans`) until the caller writes them.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from pipetree_spark import catalog, pipeline
from pipetree_spark.cache import ArtifactCache

#: Stage-level counters summed over a job group: (metric, StageData getter, scale).
_STAGE_FIELDS = (
    ("spark.exec_run_s", "executorRunTime", 1e-3),
    ("spark.exec_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.input_bytes", "inputBytes", 1),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
    ("spark.output_bytes", "outputBytes", 1),
)
_PHASES = (("analysis", "spark.analyze_ms"), ("optimization", "spark.optimize_ms"), ("planning", "spark.plan_ms"))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class TracedCache(ArtifactCache):
    """``ArtifactCache`` that reports each probe, load and write to a tracer."""

    def __init__(self, root: str, tracer: "Tracer"):
        super().__init__(root)
        self.tracer = tracer

    def has(self, spark, stage, key):
        with self.tracer.timed("cache.has"):
            hit = super().has(spark, stage, key)
        self.tracer.counts["cache.hits"] += hit
        return hit

    def load(self, spark, stage, key):
        if self.tracer.inside("cache.materialize"):  # materialize ends with a load
            return super().load(spark, stage, key)
        with self.tracer.timed("cache.load"):
            return super().load(spark, stage, key)

    def materialize(self, spark, df, stage, key, *args, **kwargs):
        with self.tracer.timed("cache.materialize"):
            out = super().materialize(spark, df, stage, key, *args, **kwargs)
        self.tracer.counts["cache.bytes_written"] += dir_bytes(self.path(stage, key))
        return out


class Tracer:
    """Collects counters and spans for one traced operation."""

    def __init__(self, spark):
        self.spark = spark
        self.counts: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self.rpcs = 0
        self._undo: list[tuple[object, str, object]] = []
        self._stack: list[str] = []

    # -- boundaries --------------------------------------------------------
    def inside(self, name: str) -> bool:
        return bool(self._stack) and self._stack[-1] == name

    @contextmanager
    def timed(self, name: str):
        """Count one call into ``name`` and add its wall time to ``name_s``."""
        t0 = time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            dt = time.perf_counter() - t0
            self.counts[f"{name}_calls"] += 1
            self.counts[f"{name}_s"] += dt
            self.spans.append(
                {"name": name, "start": t0, "end": t0 + dt,
                 "parent": self._stack[-1] if self._stack else None}
            )

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> "Tracer":
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        tracer = self
        for klass in (cs.ClientServerConnection, jg.GatewayConnection):
            orig_send = klass.send_command

            def send_command(conn, *a, _orig=orig_send, **kw):
                tracer.rpcs += 1
                return _orig(conn, *a, **kw)

            self._patch(klass, "send_command", send_command)

        orig_key = pipeline.content_key

        def content_key(spec, upstream_keys):
            with tracer.timed("pipeline.content_key"):
                return orig_key(spec, upstream_keys)

        self._patch(pipeline, "content_key", content_key)

        orig_from_spec = pipeline.Pipeline.__dict__["from_spec"].__func__

        def from_spec(cls, *a, **kw):
            with tracer.timed("pipeline.from_spec"):
                return orig_from_spec(cls, *a, **kw)

        self._patch(pipeline.Pipeline, "from_spec", classmethod(from_spec))

        orig_load = catalog.load_table

        def load_table(*a, **kw):
            with tracer.timed("catalog.load_table"):
                return orig_load(*a, **kw)

        for mod in list(sys.modules.values()):
            if (mod.__name__ or "").startswith("pipetree_spark") and getattr(mod, "load_table", None) is orig_load:
                self._patch(mod, "load_table", load_table)
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- one operation under its own job group -----------------------------
    @contextmanager
    def op(self, name: str):
        """Run the body as one operation: its own job group and span. The
        group's jobs are read back after the body, outside its wall time."""
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{time.monotonic_ns()}"
        sc.setJobGroup(group, name)
        t0_ms, t0 = time.time() * 1000, time.perf_counter()
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            wall = time.perf_counter() - t0
            t1_ms = t0_ms + wall * 1000
            sc._jsc.clearJobGroup()
            self.spans.append({"name": name, "start": t0, "end": t0 + wall, "parent": None})
            for span in self.spans:  # spans of one operation share its group id
                span.setdefault("op", group)
            self._read_group(group, t0_ms, t1_ms)

    def _read_group(self, group: str, t0_ms: float, t1_ms: float) -> None:
        rpc0 = self.rpcs
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        empty_q = sc._gateway.new_array(jvm.double, 0)
        tracker = sc.statusTracker()
        spans, stage_ids = [], set()
        job_ids = list(tracker.getJobIdsForGroup(group))
        for jid in job_ids:
            try:
                jd = store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        self.counts["spark.jobs"] += len(job_ids)
        for sid in sorted(stage_ids):
            try:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, empty_q)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                self.counts["spark.stages"] += 1
                self.counts["spark.tasks"] += st.numTasks()
                for metric, getter, scale in _STAGE_FIELDS:
                    self.counts[metric] += getattr(st, getter)() * scale
        self.counts["spark.driver_gap_s"] += (t1_ms - t0_ms - _union_ms(spans, t0_ms, t1_ms)) / 1000
        self.rpcs = rpc0  # the read-back is not the program's work

    def phases(self, df) -> None:
        """Add the Catalyst phase times of a collected frame."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        got = {}
        while it.hasNext():
            kv = it.next()
            got[str(kv._1())] = kv._2().endTimeMs() - kv._2().startTimeMs()
        for phase, metric in _PHASES:
            self.counts[metric] += got.get(phase, 0)


def _union_ms(spans: list[tuple[int, int]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total
