"""Spans around the benchmark's calls into the engine, with Spark's own
counters for each span, plus the host-speed probe.

A span tags its jobs with ``setJobGroup`` and, when it closes, reads
the jobs and stages of that group from the JVM status store
(``sc._jsc.sc().statusStore()``). With tracing off a span only times
the call, so untraced runs pay one ``perf_counter`` pair per call.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans around calls; with ``enabled`` off it only times them."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.walls: list[tuple[str, float]] = []
        self._seq = 0
        self._stack: list[int] = []
        if enabled:
            jsc = self.sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            jvm = self.sc._jvm
            self._clock = jvm.System
            self._stage_args = (jvm.java.util.ArrayList(),
                                self.sc._gateway.new_array(jvm.double, 0))

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time the body; with tracing on, also record the span and its
        status-store counters. Yields a dict the caller may add fields
        to; ``ms`` is set when the body ends."""
        self._seq += 1
        rec = {"id": self._seq, "name": name, "request": request,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(self._seq)
        group = f"perfbench-{self._seq}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
            rec["jvm_start_ms"] = self._clock.currentTimeMillis()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec.update(start=t0, end=t1, ms=(t1 - t0) * 1e3)
            self.walls.append((name, rec["ms"]))
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                if self._stack:
                    self.sc.setJobGroup(f"perfbench-{self._stack[-1]}", name)
                rec.update(self._counters(group, rec["jvm_start_ms"], rec["ms"]))
                self.spans.append(rec)

    def _counters(self, group: str, jvm_start_ms: int, wall_ms: float) -> dict:
        self._bus.waitUntilEmpty(30000)
        out = dict.fromkeys(("tasks", "executor_cpu_ms", "shuffle_bytes",
                             "spill_bytes"), 0)
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        intervals, first_submit = [], None
        for jid in job_ids:
            job = self._store.job(jid)
            if job.submissionTime().isDefined():
                t = job.submissionTime().get().getTime()
                first_submit = t if first_submit is None else min(first_submit, t)
            stages = job.stageIds()
            for i in range(stages.size()):
                attempts = self._store.stageData(stages.apply(i), False,
                                                 self._stage_args[0], False,
                                                 self._stage_args[1])
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["shuffle_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                    if st.submissionTime().isDefined() and st.completionTime().isDefined():
                        intervals.append((st.submissionTime().get().getTime(),
                                          st.completionTime().get().getTime()))
        covered, end = 0, None
        for a, b in sorted(intervals):
            if end is None or a > end:
                covered += b - a
                end = b
            elif b > end:
                covered += b - end
                end = b
        out["stage_ms"] = covered
        out["driver_ms"] = max(wall_ms - covered, 0.0)
        out["plan_ms"] = (first_submit - jvm_start_ms if first_submit is not None
                          else wall_ms)
        return out

    def reset(self) -> None:
        """Forget the spans so far (the warm-up's)."""
        self.spans.clear()
        self.walls.clear()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def jvm_gc_ms(spark) -> int:
    """Total collection time of the (driver = executor) JVM so far."""
    beans = spark.sparkContext._jvm.java.lang.management \
        .ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def host_probe(cores: int, iters: int = 1_500_000) -> dict:
    """One-core spin against the same spin on every core at once (the
    method of tools/loadprobe.py). A ratio near 1 means the cores run at
    full speed together; a throttled host reads 1.5 or more. Reported
    only; no metric is scaled by it."""
    single = min(_spin(iters) for _ in range(2))
    with mp.get_context("spawn").Pool(cores) as pool:
        walls = pool.map(_spin, [iters] * cores)
        pool.close()
        pool.join()
    return {"single_s": single, "parallel_max_s": max(walls),
            "throttle_ratio": max(walls) / single, "cores": cores}
