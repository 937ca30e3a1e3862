"""Traced mode: spans around the public calls into each engine layer, and
engine counters read from Spark's status store.

Everything here wraps the engine from the outside. `install` replaces a
fixed list of public functions with timing wrappers and `uninstall` puts
the originals back; the untraced run never calls `install`. Spans are kept
in memory and written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

# Spark job groups set around traced calls, so the status store can
# attribute jobs (and their task time) to the thread that ran them.
GROUP_BATCH = "perfbench-batch"
GROUP_CONTROL = "perfbench-control"
GROUP_MONITOR = "perfbench-monitor"

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.stat(os.path.join(root, fn)).st_size
            except FileNotFoundError:
                pass
    return total


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    thread, run, attrs); parents come from a per-thread stack, so nesting
    is exact within a thread and spans on other threads are roots."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.spark = None

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, group: str | None = None,
             before=None, after=None) -> None:
        """Replace owner.attr with a span-recording wrapper. `before`
        (args) -> attrs and `after` (result, args) -> attrs add fields."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = before(args) if before else {}
            saved = tracer._set_group(group) if group else None
            try:
                with tracer.span(name, **attrs) as sp:
                    result = orig(*args, **kwargs)
                    if after:
                        sp["attrs"].update(after(result, args))
                    return result
            finally:
                if group:
                    tracer._restore_group(saved)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def _set_group(self, group: str):
        sc = self.spark.sparkContext
        saved = [sc.getLocalProperty(p) for p in _GROUP_PROPS]
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", group)
        return saved

    def _restore_group(self, saved) -> None:
        sc = self.spark.sparkContext
        for prop, val in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(prop, val)

    def install(self, spark) -> None:
        """Wrap the public entry points of every traced layer."""
        import dbsync_spark.operators.retry as retry_mod
        import dbsync_spark.sinks.layout as layout_mod
        import dbsync_spark.sinks.table as table_mod
        from dbsync_spark.app import DbSyncApp
        from dbsync_spark.sinks.jdbc import JdbcTable
        from dbsync_spark.streaming.pipeline import SyncPipeline

        self.spark = spark
        self.wrap(SyncPipeline, "process_batch",
                  "streaming.pipeline.process_batch", GROUP_BATCH,
                  before=lambda a: {"batch_id": a[2]})
        self.wrap(SyncPipeline, "apply_changes",
                  "streaming.pipeline.apply_changes")
        self.wrap(SyncPipeline, "retry_pass", "streaming.pipeline.retry_pass")
        self.wrap(table_mod.BucketedTable, "merge_changes",
                  "sinks.table.merge_changes")
        self.wrap(JdbcTable, "merge_changes", "sinks.jdbc.merge_changes")
        self.wrap(table_mod, "rebucket", "sinks.table.rebucket")
        self.wrap(layout_mod, "promote_dir", "sinks.layout.promote_dir",
                  before=lambda a: {"bytes": dir_bytes(a[0])})
        self.wrap(layout_mod, "compact", "sinks.layout.compact")
        self.wrap(retry_mod, "apply_with_retry",
                  "operators.retry.apply_with_retry",
                  after=lambda r, a: {"passes": r[1]})
        self.wrap(DbSyncApp, "sync_state", "app.sync_state", GROUP_MONITOR)
        self.wrap(DbSyncApp, "retry_pass", "app.retry_pass", GROUP_CONTROL,
                  after=lambda r, a: {"retried": bool(r)})
        self.wrap(DbSyncApp, "retention_pass", "app.retention_pass",
                  GROUP_CONTROL)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        stack = self.tracer._stack()
        self.rec = {
            "id": next(self.tracer._ids), "name": self.name,
            "start": time.time(), "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(), "run": self.tracer.run_id,
            "attrs": dict(self.attrs),
        }
        stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.time()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children nest on one thread, so they never overlap each other)."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                    + s["end"] - s["start"])
    return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            for s in spans}


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


class StatusStore:
    """Job/stage/task counters from Spark's AppStatusStore over py4j. It
    answers with spark.ui.enabled=false; the listener bus is drained
    before every read so the store has seen every finished job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30000)

    def last_job_id(self) -> int:
        self._drain()
        jobs = self.jsc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def by_group(self, after_job_id: int) -> dict[str, dict]:
        """Counters of jobs with id > after_job_id, keyed by job group
        ("" for jobs without one)."""
        self._drain()
        store = self.jsc.statusStore()
        jobs = [store.jobsList(None).apply(i)
                for i in range(store.jobsList(None).size())]
        # a shuffle map stage is shared by every job that reuses its
        # output: count each stage once, and never one an earlier job ran
        seen = {j.stageIds().apply(k) for j in jobs
                if j.jobId() <= after_job_id
                for k in range(j.stageIds().size())}
        out: dict[str, dict] = {}
        for j in jobs:
            if j.jobId() <= after_job_id:
                continue
            grp = j.jobGroup()
            grp = grp.get() if grp.isDefined() else ""
            acc = out.setdefault(grp, dict.fromkeys(
                ("jobs", "stages", "tasks", "task_s", "gc_s",
                 "shuffle_read_bytes", "shuffle_write_bytes"), 0))
            acc["jobs"] += 1
            acc["stages"] += j.numCompletedStages()
            acc["tasks"] += j.numCompletedTasks()
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.stageAttempt(sid, 0, False,
                                            self._no_status, False,
                                            self._quantiles)._1()
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                acc["task_s"] += sd.executorRunTime() / 1000.0
                acc["gc_s"] += sd.jvmGcTime() / 1000.0
                acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
                acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out
