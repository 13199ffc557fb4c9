"""Spans, counters and Spark job statistics for traced runs.

Everything here observes the program from outside: proxies around the
objects the benchmark hands to the program, and wrappers set on module
attributes for the length of one run.  Untraced runs use ``Tracer(False)``,
which installs nothing and whose ``span`` records nothing.

A span records its name, start, end, parent span and the id of the block,
micro-batch or registry entry it belongs to.  Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from pathlib import Path


class _Proxy:
    """Stands in for ``obj``: the given methods are replaced, every other
    attribute is read from ``obj``."""

    def __init__(self, obj, methods: dict) -> None:
        self.__dict__.update(methods)
        self._obj = obj

    def __getattr__(self, name):
        return getattr(self._obj, name)


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        """Time the body as span ``name``.  ``op`` defaults to the parent's."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def wrap(self, fn, name: str, around=None, observe=None):
        """``fn`` timed as span ``name``; ``around()`` is a context entered
        inside the span, ``observe(result)`` sees each result."""

        def traced(*args, **kwargs):
            with self.span(name), (around() if around else contextlib.nullcontext()):
                result = fn(*args, **kwargs)
            if observe is not None:
                observe(result)
            return result

        return traced

    def proxy(self, obj, methods: dict[str, str], extra: dict | None = None):
        """``obj`` with each method in ``methods`` (method -> span name)
        timed; ``extra`` replaces further attributes verbatim.  Untraced:
        ``obj`` itself."""
        if not self.enabled:
            return obj
        wrapped = {m: self.wrap(getattr(obj, m), s) for m, s in methods.items()}
        return _Proxy(obj, {**wrapped, **(extra or {})})

    def patch(self, module, attr: str, name: str, around=None, observe=None) -> None:
        """Time every call through ``module.attr`` until ``restore``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(orig, name, around, observe))
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- summaries -----------------------------------------------------------
    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds_by_layer(self) -> dict[str, float]:
        """Per layer (the span name up to its first dot): span time minus
        the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class SparkJobs:
    """Spark-side counts per job group, read from the StatusTracker and
    the application status store after the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextlib.contextmanager
    def group(self, name: str):
        """Run the body's Spark jobs under job group ``name``; the calling
        thread's previous group (a streaming query's, say) comes back after."""
        prev = {p: self.sc.getLocalProperty(p) for p in _GROUP_PROPS}
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            for p, v in prev.items():
                self.sc.setLocalProperty(p, v)

    def stats(self, group: str) -> dict[str, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        out = dict(jobs=len(jobs), stages=0, tasks=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0)
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def storage_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())
