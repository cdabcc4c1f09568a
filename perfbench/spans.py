"""Span recorder for the traced benchmark run.

A span is opened around a call into one layer of ``pasta_pipeline_spark``
(``<module>.<function>``, module relative to the package). While it is
open it owns a fresh Spark job group, so every Spark job the call
submits is attributed to the innermost open span; at span exit the
status tracker gives those jobs' stages and task counts. Shuffle bytes
come from the REST stage API once, when the run ends. Spans are kept in
memory and written out as JSON lines by ``dump``.

Functions the program calls internally are wrapped by monkeypatching
their module (or class) attributes; ``unpatch`` restores them. The
source of ``pasta_pipeline_spark`` is never edited.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
PKG = "pasta_pipeline_spark"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "child_s", "excluded_s", "stages",
                 "jobs", "tasks", "extra_groups")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.child_s = 0.0
        self.excluded_s = 0.0
        self.stages: list[int] = []
        self.jobs = self.tasks = 0
        self.extra_groups: list[str] = []


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op.
    ``excluded`` works either way."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._seen_stages: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []
        self.excluded_s = 0.0

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(len(self.spans), name, parent.id if parent else None)
            self.spans.append(sp)
            self._stack.append(sp)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"perfbench-{sp.id}")
        try:
            yield sp
        finally:
            self.sc.setLocalProperty(_GROUP, prev)
            self._collect(sp, [f"perfbench-{sp.id}", *sp.extra_groups])
            sp.end = time.perf_counter()
            with self._lock:
                self._stack.remove(sp)
                if parent is not None:
                    parent.child_s += sp.end - sp.start - sp.excluded_s

    @contextmanager
    def off(self):
        """Record no spans inside (a workload's warm-up unit)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def excluded(self):
        """Time spent inside is the benchmark's own work (its disk scans):
        it is subtracted from every open span and added to
        ``excluded_s``, which the workloads subtract from job latency."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.excluded_s += dt
                for sp in self._stack:
                    sp.excluded_s += dt

    def _collect(self, sp: Span, groups: list[str]) -> None:
        st = self.sc.statusTracker()
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is None or sid in self._seen_stages:
                        continue
                    ran = stage.numCompletedTasks + stage.numFailedTasks
                    if ran == 0:
                        continue  # skipped: its output was reused
                    self._seen_stages.add(sid)
                    sp.stages.append(sid)
                    sp.tasks += ran

    # -- monkeypatching -----------------------------------------------------

    def patch(self, func, name: str) -> None:
        """Wrap ``func`` in a span wherever a loaded module of the package
        holds it as an attribute."""
        wrapper = self._wrap(func, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(orig, name))

    def _wrap(self, func, name: str):
        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        return wrapper

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results --------------------------------------------------------------

    def shuffle_bytes_by_stage(self) -> dict[int, int]:
        """Shuffle write bytes per stage id from the REST stage API (the
        traced session runs with the UI server on)."""
        url = self.sc.uiWebUrl
        if not url:
            return {}
        api = f"{url}/api/v1/applications/{self.sc.applicationId}/stages"
        with urllib.request.urlopen(api, timeout=30) as resp:
            stages = json.load(resp)
        out: dict[int, int] = defaultdict(int)
        for s in stages:
            out[s["stageId"]] += int(s.get("shuffleWriteBytes", 0))
        return out

    def layer_stats(self, shuffle: dict[int, int]) -> dict[str, dict[str, float]]:
        """Per span name: calls, s (inclusive), self_s, jobs, tasks,
        shuffle_bytes (jobs and below are exclusive: only what the
        innermost span submitted). Excluded time counts in neither."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            d = out.setdefault(sp.name, defaultdict(float))
            dur = sp.end - sp.start - sp.excluded_s
            d["calls"] += 1
            d["s"] += dur
            d["self_s"] += max(0.0, dur - sp.child_s)
            d["jobs"] += sp.jobs
            d["tasks"] += sp.tasks
            d["shuffle_bytes"] += sum(shuffle.get(s, 0) for s in sp.stages)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "jobs": sp.jobs,
                    "excluded_s": sp.excluded_s, "tasks": sp.tasks, "stages": sp.stages,
                }) + "\n")
