"""Tracing from outside the engine, for the benchmark's traced runs.

Nothing here edits the engine. Three probes are attached to a live
session and to the engine's modules:

- a counter on the py4j client's ``send_command`` (every Python → JVM
  round trip of the session);
- one Spark job group per traced call; after the call, the listener bus is
  drained and its jobs, stages, tasks, shuffle bytes, spill bytes and
  executor run time are read from Spark's own status store
  (``AppStatusStore``), and the wall time no job covered is the driver gap.
  Work a call starts on another thread under a group of its own (a
  streaming query runs its batches under its run id) is added by naming
  that group in the span;
- wrappers that time and count the public functions of named engine
  modules (``scratch``, ``sources.upsert``, ``sources.deployment``, ...).

Probes stay off unless :class:`Tracer` is created with ``enabled=True``;
the untraced runs that give the end-to-end numbers then run the engine
unmodified.
"""

from __future__ import annotations

import functools
import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self._counting = enabled
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.totals: dict[str, float] = defaultdict(float)
        self.self_s = 0.0  # time the tracer spends on its own bookkeeping
        self._groups = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self._patch_py4j()

    # -- py4j ------------------------------------------------------------

    def _patch_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def send_command(*args, **kwargs):
            if not self._counting:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.py4j_s += time.perf_counter() - t0
                self.py4j_calls += 1

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    # -- module function wrappers ----------------------------------------

    def wrap_module(self, module, prefix: str, names) -> None:
        """Replace ``module.<name>`` for each name with a wrapper that adds
        the call's count and wall seconds under ``<prefix>.<name>``."""
        if not self.enabled:
            return
        for name in names:
            fn = getattr(module, name)
            setattr(module, name, self._timed(fn, f"{prefix}.{name}"))
            self._patched.append((module, name, fn))

    def _timed(self, fn, label: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[label] += 1
                self.seconds[label] += time.perf_counter() - t0

        return wrapper

    def restore(self) -> None:
        for owner, name, original in reversed(self._patched):
            if original is None:
                delattr(owner, name)  # instance attribute shadowing the class method
            else:
                setattr(owner, name, original)
        self._patched.clear()

    # -- per-call spans ---------------------------------------------------

    @contextmanager
    def span(self, label: str):
        """Trace one call: py4j round trips, and the Spark work done under
        a job group of its own. Adds into ``self.totals`` under ``label``.
        Yields the list of job groups counted for the call; append the
        group of any query the call runs on another thread. A no-op when
        tracing is off."""
        group = f"perfbench-{next(self._groups)}"
        groups = [group]
        if not self.enabled:
            yield groups
            return
        sc = self.spark.sparkContext
        t_own = time.perf_counter()
        self._counting = False
        sc.setJobGroup(group, label)
        self._counting = True
        self.self_s += time.perf_counter() - t_own
        calls0, t0 = self.py4j_calls, time.time()
        try:
            yield groups
        finally:
            wall = time.time() - t0
            calls = self.py4j_calls - calls0
            t_own = time.perf_counter()
            self._counting = False
            try:
                sc.setJobGroup("perfbench-idle", "")
                stats = self._spark_stats(groups, t0, t0 + wall)
            finally:
                self._counting = True
                self.self_s += time.perf_counter() - t_own
            self.add(label, "wall_s", wall)
            self.add(label, "py4j_calls", calls)
            for k, v in stats.items():
                self.add(label, k, v)

    def add(self, label: str, field: str, value: float) -> None:
        self.totals[f"{label}.{field}"] += value

    def _spark_stats(self, groups: list[str], t_start: float, t_end: float) -> dict[str, float]:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        # the status store is filled from the listener bus on another
        # thread: wait until the last job, stage and task events are in
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        intervals = []
        job_ids = {j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g)}
        for job_id in sorted(job_ids):
            job = store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                out["job_wall_s"] += b - a
                intervals.append((max(a, t_start), min(b, t_end)))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                attempts = store.stageData(stage_ids.apply(i), False, no_status, False, no_quantiles)
                for j in range(attempts.length()):
                    st = attempts.apply(j)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1e3
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_gap_s"] = max(0.0, (t_end - t_start) - _covered(intervals))
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
