"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from outside the engine: :func:`instrument` wraps the
public entry points of each layer (``cdc.apply``, ``lake.merge``,
``lake.table``) for the duration of a run and puts every wrapper back when
the run ends. A span has a name, start, end, parent and trace id (the WAL
segment or micro-batch it belongs to); spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    trace_id: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.trace_id = "setup"
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        s = Span(name, self.trace_id, time.perf_counter(),
                 parent=stack[-1] if stack else None, attrs=attrs)
        self.spans.append(s)
        stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def descendants(self, idx: int) -> list[int]:
        out = []
        for c in self.children(idx):
            out += [c, *self.descendants(c)]
        return out

    def self_ms(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[idx]
        covered, cursor = 0.0, s.start
        for c in sorted((self.spans[i] for i in self.children(idx)), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (s.end - s.start - covered) * 1000.0

    def ancestors(self, s: Span) -> list[str]:
        out = []
        while s.parent is not None:
            s = self.spans[s.parent]
            out.append(s.name)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "trace_id": s.trace_id,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }, default=str) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str, on_result=None):
    """Replace ``owner.attr`` with a span-recording wrapper; return an undo."""
    original = vars(owner)[attr]

    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            try:
                result = original(*args, **kwargs)
            except Exception as e:
                s.attrs["error"] = type(e).__name__
                raise
            if on_result is not None:
                on_result(s, args, kwargs, result)
            return result

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, original)


def instrument(tracer: Tracer) -> list:
    """Wrap each layer's entry points; returns the undo callables."""
    from concepts_pipeline_spark.cdc import apply as cdc_apply
    from concepts_pipeline_spark.lake import merge as lake_merge
    from concepts_pipeline_spark.lake.table import LakeTable

    def merge_stats(s, args, kwargs, st):
        s.attrs.update(
            applied=st.applied, carried=st.carried, noop=st.noop, stale=st.stale,
            delete_missing=st.delete_missing, touched_buckets=st.touched_buckets,
            touched_files=st.touched_files, skipped=st.skipped,
        )

    def apply_result(s, args, kwargs, r):
        s.attrs.update(rows_in=r.rows_in, quarantined=r.quarantined)

    def written(s, args, kwargs, result):
        entries = result[0] if isinstance(result, tuple) else result
        table = args[0]
        s.attrs.update(
            files=len(entries),
            bytes=sum(os.path.getsize(os.path.join(table.path, e.path)) for e in entries),
            kind=kwargs.get("kind", "base"),
        )

    def compacted(s, args, kwargs, result):
        s.attrs["did_work"] = bool(result["consolidated"] or result["folded"])

    undo = [
        _wrap(tracer, cdc_apply.CdcPipeline, "apply_batch", "cdc.apply.batch", apply_result),
        # merge_into as the apply layer binds it; compact_tiered is imported
        # from lake.merge at call time
        _wrap(tracer, cdc_apply, "merge_into", "lake.merge.merge", merge_stats),
        _wrap(tracer, lake_merge, "compact_tiered", "lake.merge.compact", compacted),
        _wrap(tracer, lake_merge, "read_for_keys_df", "lake.merge.lookup"),
        _wrap(tracer, LakeTable, "append", "lake.table.append"),
        _wrap(tracer, LakeTable, "append_rows", "lake.table.append_rows"),
        _wrap(tracer, LakeTable, "write_data_files", "lake.table.write", written),
        _wrap(tracer, LakeTable, "commit", "lake.table.commit"),
        _wrap(tracer, LakeTable, "manifest", "lake.table.manifest"),
        _wrap(tracer, LakeTable, "has_fence_token", "lake.table.fence_check"),
    ]
    return undo

