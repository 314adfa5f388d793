"""Span tracer for the traced benchmark run.

It wraps public entry points of each engine layer from outside the
engine: nothing in ``movex_cdc_spark`` changes, and an untraced run
never constructs or installs a tracer. Spans stay in memory until the
run ends. Spark plans are lazy, so a span covers only work that runs
an action or does IO inside the wrapped call.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import threading
import time
from typing import Any, Callable

from calc import Span

#: LocalFS methods, split into metadata reads and writes.
FS_READS = ("read_text", "exists", "isdir", "listdir", "mtime", "walk")
FS_WRITES = ("makedirs", "create_exclusive_text", "replace_text", "remove", "rmtree")


def _bound(fn: Callable) -> Callable[[tuple, dict], dict]:
    sig = inspect.signature(fn)

    def args_of(a: tuple, kw: dict) -> dict:
        try:
            return sig.bind_partial(*a, **kw).arguments
        except TypeError:
            return kw

    return args_of


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[Any, str, Any]] = []
        #: the open micro-batch span; parent of spans opened on threads
        #: the micro-batch started (dead-letter append, mux dispatch)
        self.batch: Span | None = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, stream_id=None, epoch_id=None) -> Span:
        st = self._stack()
        parent = st[-1] if st else self.batch
        sp = Span(
            id=next(self._ids), name=name, start=time.perf_counter(), end=0.0,
            parent=parent.id if parent is not None else None,
            thread=threading.get_ident(), stream_id=stream_id,
            epoch_id=None if epoch_id is None else int(epoch_id),
        )
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    # ---------------------------------------------------------- patching
    def wrap(self, owner: Any, attr: str, name: str,
             on_return: Callable[[Span, Any, dict], None] | None = None,
             with_args: bool = True) -> None:
        orig = getattr(owner, attr)
        args_of = _bound(orig) if with_args else None
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            args = args_of(a, kw) if args_of else {}
            sp = tracer.open(name, args.get("stream_id"), args.get("epoch_id"))
            try:
                out = orig(*a, **kw)
            finally:
                tracer.close(sp)
            if on_return is not None:
                on_return(sp, out, args)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> "Tracer":
        from movex_cdc_spark.lake import append_log, fs, table
        from movex_cdc_spark.operators import apply
        from movex_cdc_spark.streaming import lineage, pipeline

        def keep_merge(sp: Span, out: Any, args: dict) -> None:
            if isinstance(out, dict):
                sp.info = {
                    "path": args["self"].path,
                    "version": out.get("version"),
                    "buckets_touched": out.get("buckets_touched") or [],
                    "timings": dict(out.get("timings") or {}),
                    "skipped": bool(out.get("skipped")),
                }

        def keep_rows(sp: Span, out: Any, _args: dict) -> None:
            sp.info = {"rows": int(out or 0)}

        # pipeline imports the apply entry points by name: patch there
        self.wrap(pipeline, "apply_batch_flagged", "apply.call")
        self.wrap(pipeline, "apply_batch", "apply.call")
        self.wrap(table.LakeTable, "merge", "merge.call", keep_merge)
        self.wrap(table.LakeTable, "evolve_schema", "lake.evolve_schema")
        self.wrap(apply.DeadLetterTable, "append", "deadletter.append", keep_rows)
        self.wrap(append_log.UnkeyedEventLog, "append", "log.append")
        self.wrap(lineage.MetricsTable, "append", "lineage.append", with_args=False)
        self.wrap(lineage.MetricsTable, "flush", "lineage.flush", with_args=False)
        for m in FS_READS:
            self.wrap(fs.LocalFS, m, "fs.read", with_args=False)
        for m in FS_WRITES:
            self.wrap(fs.LocalFS, m, "fs.write", with_args=False)
        return self

    def wrap_batch(self, pipe: Any, on_batch: Callable[[Span, Callable], None]) -> None:
        """Trace one pipeline's foreachBatch function (an instance
        attribute, so only this pipeline object is affected).
        ``on_batch(span, run)`` runs the batch via ``run()`` and may
        sample counters around it."""
        orig = pipe._apply
        tracer = self

        def traced(batch_df, epoch_id):
            sp = tracer.open("stream.batch", getattr(pipe, "stream_id", None), epoch_id)
            tracer.batch = sp
            try:
                on_batch(sp, lambda: orig(batch_df, epoch_id))
            finally:
                tracer.batch = None
                tracer.close(sp)

        pipe._apply = traced

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def job_ids(sc, groups: list[str | None]) -> set[int]:
    st = sc.statusTracker()
    out: set[int] = set()
    for g in groups:
        out.update(st.getJobIdsForGroup(g))
    return out


def job_counts(sc, ids: set[int]) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) over the given job ids."""
    st = sc.statusTracker()
    tasks = failed = 0
    for j in ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(ids), tasks, failed


def count_jobs(spark) -> Callable[[Span, Callable], None]:
    """``wrap_batch`` hook: Spark jobs, tasks and failed tasks of each
    micro-batch, from the status tracker, stored on the batch span. Jobs
    from the batch's own thread carry the query's job group; jobs from
    threads it starts carry none."""
    sc = spark.sparkContext

    def on_batch(sp: Span, run_batch: Callable) -> None:
        groups = [sc.getLocalProperty("spark.jobGroup.id"), None]
        before = job_ids(sc, groups)
        try:
            run_batch()
        finally:
            jobs, tasks, failed = job_counts(sc, job_ids(sc, groups) - before)
            sp.info.update(jobs=jobs, tasks=tasks, failed_tasks=failed)

    return on_batch
