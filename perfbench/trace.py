"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent span and operation id. Each
span runs its Spark jobs under its own job group, so jobs, stages and
tasks are attributed to the innermost span that launched them. Self
time is a span's duration minus the part of it its child spans cover.

:func:`patch_engine` wraps engine functions *where they are looked up*:
a function imported by name into another module (``pipeline.read_csv``,
``pipeline.scd2_merge``, ``streaming.runner.scd2_merge``) is a separate
binding from its definition, so both are wrapped; ``Warehouse`` methods
are wrapped on the class. Wrappers are pass-through while the tracer is
inactive.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.active = False
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            op=self.op,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, self._group(sp.id))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev)

    @staticmethod
    def _group(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def count_jobs(self) -> None:
        """Fill each span's own job/stage/task counts from the status
        tracker (call once, after the measured loop)."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            stages = set()
            job_ids = tracker.getJobIdsForGroup(self._group(sp.id))
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
            sp.jobs, sp.stages, sp.tasks = len(job_ids), len(stages), tasks

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_time(self, sp: Span, children: dict[int, list[Span]]) -> float:
        return sp.duration - covered(
            [(c.start, c.end) for c in children.get(sp.id, ())], sp.start, sp.end
        )

    def subtree(self, sp: Span, children: dict[int, list[Span]]):
        yield sp
        for c in children.get(sp.id, ()):
            yield from self.subtree(c, children)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans], default=str))


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def _table_files(wh, table: str) -> dict[str, tuple[int, int]]:
    return {
        str(p): (st.st_size, st.st_mtime_ns)
        for p in wh.path(table).glob("**/*.parquet")
        for st in [p.stat()]
    }


def _wrap_apply_scd2(tracer: Tracer, fn):
    """``Warehouse.apply_scd2_changeset`` wrapper that also records the
    bytes of data files the call creates or rewrites."""

    @functools.wraps(fn)
    def traced(wh, table, *args, **kwargs):
        if not tracer.active:
            return fn(wh, table, *args, **kwargs)
        with tracer.span("warehouse.apply_scd2") as sp:
            before = _table_files(wh, table)
            out = fn(wh, table, *args, **kwargs)
            now = _table_files(wh, table)
            sp.attrs["bytes_written"] = sum(sz for p, (sz, mt) in now.items() if before.get(p) != (sz, mt))
            return out

    return traced


def patch_engine(tracer: Tracer):
    """Wrap the engine entry points; returns a function that undoes it."""
    from lakehouse_poc_spark import pipeline
    from lakehouse_poc_spark.operators import scd2
    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources import readers
    from lakehouse_poc_spark.streaming import runner

    targets = [
        (readers, "read_csv", "readers.read_csv"),
        (pipeline, "read_csv", "readers.read_csv"),
        (pipeline, "load_raw", "pipeline.load_raw"),
        (scd2, "scd2_merge", "scd2.merge"),
        (pipeline, "scd2_merge", "scd2.merge"),
        (runner, "scd2_merge", "scd2.merge"),
        (runner, "scd2_stream", "runner.scd2_stream"),
        (Warehouse, "append", "warehouse.append"),
        (Warehouse, "read", "warehouse.read"),
        (Warehouse, "overwrite", "warehouse.overwrite"),
        (Warehouse, "overwrite_from_plan", "warehouse.overwrite_from_plan"),
    ]
    saved = []
    for owner, attr, name in targets:
        fn = owner.__dict__[attr]
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, name, fn))
    fn = Warehouse.__dict__["apply_scd2_changeset"]
    saved.append((Warehouse, "apply_scd2_changeset", fn))
    Warehouse.apply_scd2_changeset = _wrap_apply_scd2(tracer, fn)

    def restore() -> None:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    return restore
