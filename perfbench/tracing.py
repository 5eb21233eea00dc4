"""Spans and per-layer Spark accounting, recorded from the benchmark side.

A span is opened around every call into a layer: ``(id, trace, name,
parent, start, end)``. Spans stay in memory and are written out once, when
the run ends. While a span is open its layer owns the Spark job group, so
every job the call triggers is attributed to the innermost open layer; the
job group of the enclosing span is restored when it closes. After a traced
operation, ``collect`` turns each span's job group into Spark counters —
jobs, stages, tasks and failed tasks from ``statusTracker()``, executor run
time, shuffle write and spill from the application status store.

With tracing disabled every method is a no-op and no job group is set, so
the untraced run executes exactly the program's own code path.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

#: per-layer counters and their units
COUNTERS = {
    "wall_s": "s", "self_s": "s", "spark_jobs": "count", "spark_stages": "count",
    "spark_tasks": "count", "failed_tasks": "count", "executor_run_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0
        self._collected = 0

    # -- spans ------------------------------------------------------------

    def new_trace(self) -> None:
        """Spans opened from now on share a new trace id (one operation)."""
        self._trace += 1

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """``start`` backdates the span (for work done before the session,
        and so the job group, existed)."""
        if not self.enabled:
            yield
            return
        sp = {
            "id": len(self.spans) + len(self._stack) + 1,
            "trace": self._trace,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            # a call into a layer from inside the same layer is part of the
            # outer call's wall time already
            "outermost": all(s["name"] != name for s in self._stack),
        }
        sp["group"] = f"perfbench:{name}:{sp['id']}"
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter() if start is None else start
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    @contextlib.contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]], counts: dict | None = None):
        """Route calls to ``module.attr`` through a span named ``layer`` for
        the duration of the block (``targets``: (module, attr, layer)). The
        program resolves these as module attributes at call time, so its
        internal calls are traced too. ``counts[layer]`` tallies calls."""
        if not self.enabled:
            yield
            return
        with contextlib.ExitStack() as stack:
            for module, attr, layer in targets:
                wrapper = self._wrap(getattr(module, attr), layer, counts)
                stack.enter_context(self.patched(module, attr, wrapper))
            yield

    @staticmethod
    @contextlib.contextmanager
    def patched(module, attr: str, value):
        """Temporarily replace ``module.attr`` with ``value``."""
        original = getattr(module, attr)
        setattr(module, attr, value)
        try:
            yield original
        finally:
            setattr(module, attr, original)

    def _wrap(self, fn, layer, counts):
        def call(*args, **kwargs):
            if counts is not None:
                counts[layer] = counts.get(layer, 0) + 1
            with self.span(layer):
                return fn(*args, **kwargs)

        return call

    # -- Spark accounting -------------------------------------------------

    def collect(self) -> dict[str, dict[str, float]]:
        """Per-layer counters over the spans closed since the last call.

        ``wall_s`` adds up the durations of a layer's outermost spans only,
        so a span nested in a span of the same layer is not counted twice.
        ``self_s`` is a span's duration minus the part of it covered by its
        child spans; counters of the same layer add up."""
        if not self.enabled:
            return {}
        spans = self.spans[self._collected:]
        self._collected = len(self.spans)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_owner: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
        child_time: dict[int, float] = defaultdict(float)
        for sp in spans:
            if sp["parent"] is not None:
                child_time[sp["parent"]] += sp["end"] - sp["start"]
        for sp in spans:
            acc = out[sp["name"]]
            dur = sp["end"] - sp["start"]
            if sp["outermost"]:
                acc["wall_s"] += dur
            acc["self_s"] += dur - child_time.get(sp["id"], 0.0)
            for job in tracker.getJobIdsForGroup(sp["group"]):
                acc["spark_jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info is not None else ():
                    stage_owner[int(sid)] = sp["name"]
        if stage_owner:
            gw = self.sc._gateway
            stages = jsc.statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
            for i in range(stages.size()):
                st = stages.apply(i)
                layer = stage_owner.get(st.stageId())
                if layer is None:
                    continue
                acc = out[layer]
                done = st.numCompleteTasks()
                if done or st.numFailedTasks():
                    acc["spark_stages"] += 1
                acc["spark_tasks"] += done + st.numFailedTasks()
                acc["failed_tasks"] += st.numFailedTasks()
                acc["executor_run_s"] += st.executorRunTime() / 1000.0
                acc["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                acc["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return dict(out)

    def write(self, path: str) -> None:
        """Write every span recorded in this run as one JSON document."""
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [{k: sp[k] for k in ("id", "trace", "name", "parent", "start", "end")} for sp in self.spans],
                fh,
            )
