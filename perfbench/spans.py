"""Spans for the traced run.

A span is opened by the benchmark around a call into one of the
engine's layers (``sinks.append_snapshot``, ``plans.rollup.
merge_partials``, ...). Spans live in memory and are written out when
the run ends. Each span records its name, start, end, parent span and
op id. Its Spark jobs run under a job group named after the span, so
jobs and tasks can be read from Spark's status tracker when the span
closes, and shuffle bytes, spill and GC time from the event log (which
only the traced run enables) when the session has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import threading
import time
from collections import defaultdict

# jobs and tasks come from the status tracker, the rest from the event log
SPARK_FIELDS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s")


class Tracer:
    """Span recorder. While disabled (the default), spans record
    nothing and wrapped functions run as they are."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.sc = None  # the live SparkContext, set by the harness
        # Spark keeps the job group per thread; spans also open on the
        # stream's thread, nested in a span of the main thread
        self._thread = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the enclosed block as span ``name``; yields a dict into
        which the caller may put counts."""
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "group": f"pbspan-{sid}", "counts": counts}
        self.spans.append(rec)
        self._stack.append(sid)
        outer = getattr(self._thread, "group", None)  # job group of this thread before the span
        self._set_group(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield counts
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"], rec["tasks"] = self._jobs_and_tasks(rec["group"])
            self._set_group(outer, "")

    def wrap_lazy(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr``, a function that returns a DataFrame
        without computing it, by a version that runs inside span ``name``
        and also computes the result (to Spark's no-op sink), so the
        layer function is charged the work it plans."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
                out.write.format("noop").mode("overwrite").save()
                return out

        setattr(module, attr, traced)

    def _set_group(self, group: str | None, desc: str) -> None:
        self._thread.group = group
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, desc)

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        if self.sc is None:
            return 0, 0
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks

    def add_event_log(self, log_dir: str) -> None:
        """Attribute shuffle bytes, spill and GC time of every task in
        the event logs under ``log_dir`` to the span whose job group ran
        it."""
        stage_group: dict[int, str] = {}
        per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for path in sorted(glob.glob(f"{log_dir}/*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if group is None or not m:
                            continue
                        g = per_group[group]
                        g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        for rec in self.spans:
            g = per_group.get(rec["group"], {})
            for k in SPARK_FIELDS[2:]:
                rec[k] = g.get(k, 0.0)

    def finished(self) -> list[dict]:
        """Spans with wall time, self time (wall minus the union of the
        children's intervals; children of one span never overlap) and
        Spark counters summed over the span's subtree."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        for s in reversed(self.spans):  # children close before parents
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = s["wall_s"] - sum(c["wall_s"] for c in kids[s["id"]])
            for k in SPARK_FIELDS:
                s[f"spark.{k}"] = s.get(k, 0) + sum(c[f"spark.{k}"] for c in kids[s["id"]])
        return self.spans
