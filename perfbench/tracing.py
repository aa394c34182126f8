"""Spans and Spark job accounting recorded from the benchmark's own files.

The traced run wraps the public functions of each layer (module attributes
and class methods of ``pyrope_spark``) so that every call records a span
``(name, start, end, parent, op)``. Spans of one benchmark operation share an
operation id. Layer functions that return a lazy DataFrame get their span
from a forced ``noop`` write of the result, run in a separate Spark job group
so that it is not counted as work of the operation. Spark job, stage, task
and failed-task counts per operation come from the operation's job group and
``statusTracker``.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TRACE_GROUP = "perfbench-trace-noop"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.jobs: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": getattr(self._local, "op", None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_type: str):
        """One benchmark operation: a root span plus its own Spark job
        group, whose jobs are counted under ``op_type`` when it ends."""
        if not self.enabled:
            yield
            return
        op_id = next(self._ids)
        group = f"perfbench-op-{op_id}"
        self._local.op = op_id
        self.sc.setJobGroup(group, op_type)
        try:
            with self.span(f"op.{op_type}"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.op = None
            self._count_jobs(group, op_type)

    def _count_jobs(self, group: str, op_type: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output)
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        with self._lock:
            c = self.jobs[op_type]
            c["ops"] += 1
            c["jobs"] += jobs
            c["stages"] += stages
            c["tasks"] += tasks
            c["failed_tasks"] += failed

    def force(self, df) -> None:
        """Materialize a lazy DataFrame outside the operation's job group."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(TRACE_GROUP, "perfbench noop materialization")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # ---------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, lazy=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``lazy``
        maps the return value to the DataFrame whose materialization the
        span must cover (None for eager functions)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if tracer.enabled and lazy is not None:
                    tracer.force(lazy(out))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_resp(self, frontend_cls) -> None:
        """Wrap ``VecFrontend.execute``: it runs in the server's handler
        thread, so the job group and operation id are set there."""
        orig = frontend_cls.execute
        tracer = self
        names = {b"VEC.SEARCH": ("resp.search", "search"),
                 b"VEC.UPSERT": ("resp.upsert", "write"),
                 b"VEC.DEL": ("resp.del", "write")}

        @functools.wraps(orig)
        def execute(fe, args):
            name, op_type = names.get(bytes(args[0]).upper(), ("resp.other", "other"))
            with tracer.op(op_type), tracer.span(name):
                return orig(fe, args)

        frontend_cls.execute = execute
        self._patches.append((frontend_cls, "execute", orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --------------------------------------------------------- summaries

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer (span-name prefix): span duration minus the time its
        direct child spans cover. Children run in the parent's thread, one
        after another, so their durations do not overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(".")[0]
            out[layer] += max(0.0, s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
