"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end and parent span. When a Spark context
is attached, each span also tags the Spark jobs started inside it (a job
tag per span, so nested spans each see their own and their children's
jobs); ``resolve`` later turns the tags into exact job and stage counts
through the status tracker. Spans stay in memory until the run ends.

Only the traced run (``--trace 1``) creates a tracer. ``install`` wraps
engine functions from outside: it rebinds the names that ``olap_db_spark.api``
imported, so the engine's own source is never edited.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    tag: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = None

    def attach(self, sc) -> None:
        """Start tagging Spark jobs; call once the context exists."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        parent = getattr(self._local, "current", None)
        rec = Span(next(self._ids), name, parent.id if parent else None, attrs=attrs)
        if self._sc is not None:
            rec.tag = f"perfbench-span-{rec.id}"
            self._sc.addJobTag(rec.tag)
        self._local.current = rec
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._local.current = parent
            if rec.tag is not None:
                self._sc.removeJobTag(rec.tag)
            self.spans.append(rec)

    def resolve(self) -> None:
        """Fill ``jobs``/``stages`` of every tagged span. Waits for the
        listener bus to drain first, so every finished job is visible."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            if rec.tag is None:
                continue
            ids = list(jsc.statusTracker().getJobIdsForTag(rec.tag))
            rec.jobs = len(ids)
            rec.stages = sum(len(tracker.getJobInfo(j).stageIds) for j in ids)

    def named(self, name: str, since: float = 0.0, **attrs) -> list[Span]:
        """Spans called ``name`` that started at or after ``since`` and
        carry the given attribute values."""
        return [
            s
            for s in self.spans
            if s.name == name
            and s.start >= since
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def wrap(self, owner, attr: str, name: str, result_attr=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``result_attr``
        names a span attribute that records the call's return value."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = inner(*args, **kwargs)
                if result_attr:
                    rec.attrs[result_attr] = out
                return out

        setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the workloads reach through
    ``OlapEngine``: the catalog registration, the SQL surface and the
    three write paths, each on the name ``api.py`` calls."""
    from olap_db_spark import api

    tracer.wrap(api, "register_views", "catalog.register_views")
    tracer.wrap(api.OlapEngine, "sql", "api.OlapEngine.sql")
    tracer.wrap(
        api, "idempotent_append", "sources.writers.idempotent_append", "written"
    )
    tracer.wrap(
        api, "upsert_partition_scoped", "sources.writers.upsert_partition_scoped"
    )
    tracer.wrap(api, "delete_where", "sources.writers.delete_where")
