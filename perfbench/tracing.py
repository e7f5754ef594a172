"""Spans around the calls the benchmark makes into each engine layer.

A ``Tracer`` records one span ``{id, name, start, end, parent, run,
jobs, stages}`` per wrapped call, in memory, and writes them out once
when the run ends.
Each span runs its Spark jobs under a job group of its own, so the
jobs and stages a call launched are read back from the status tracker
afterwards; job groups are thread-local, so the folds that
``update_event_summaries`` runs in a thread pool are counted apart.

The engine is never edited: the benchmark calls layer entry points
through ``Tracer.call`` and, for the functions the engine itself calls
(the ``update_*`` folds, the column-stats refresh, ``merge_facts``),
swaps the module attribute for a wrapper, which works because their
callers look them up as module globals at call time. An untraced run
installs nothing, and its ``call`` is a plain call.
"""

from __future__ import annotations

import json
import os
import threading
import time

# the eight summary folds update_event_summaries runs per batch
FOLDS = [
    "update_daily_summary",
    "update_window_summary",
    "update_merged_summary",
    "update_funnel_summary",
    "update_cohort_summary",
    "update_keycount_summaries",
    "update_topk_summary",
    "update_value_hist_summary",
]
# (module, attribute, span name) of every engine function the engine
# calls itself and the benchmark cannot wrap at its own call site
PATCHES = (
    [("nerd_spark.sources.layout", f, f"sources.layout.fold.{f}") for f in FOLDS]
    + [
        (
            "nerd_spark.sources.colstats",
            "maybe_refresh_column_stats",
            "sources.layout.fold.colstats_refresh",
        ),
        ("nerd_spark.streaming.ingest", "merge_facts", "streaming.ingest.merge_facts"),
    ]
)


class Tracer:
    """Span recorder for one benchmark run. ``enabled=False`` makes
    every method a no-op pass-through."""

    def __init__(self, spark, run: str, enabled: bool):
        self.spark = spark
        self.run = run
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple] = []
        # seconds the wrappers spent outside the calls they wrap
        self.overhead_s = 0.0

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` as span ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span (the call that submitted the pool)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = len(self.spans)
            span = {"id": sid, "name": name, "parent": parent, "run": self.run}
            self.spans.append(span)
        group = f"perfbench-{sid}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                stages += len(info.stageIds) if info else 0
            span.update(
                start=t0, end=t1, jobs=len(jobs), stages=stages
            )
            with self._lock:
                self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- engine-side wrappers ----------------------------------------
    def install(self) -> None:
        """Swap the PATCHES module attributes for span wrappers."""
        if not self.enabled or self._patched:
            return
        import importlib

        for mod_name, attr, name in PATCHES:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self.wrap(name, orig))
            self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()

    # -- read-back ---------------------------------------------------
    def closed(self, name: str, since: int = 0) -> list[dict]:
        """Finished spans called ``name``, from span id ``since`` on."""
        return [
            s for s in self.spans[since:] if s["name"] == name and "end" in s
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
