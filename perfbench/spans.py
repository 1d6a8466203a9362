"""Span recorder: wraps the library's public functions from outside.

Each wrapped call becomes a span. While a span runs, its calling thread
carries one Spark job tag naming it (the parent's tag is lifted for the
duration), so the event log attributes every job to the innermost span
that caused it. Names a caller re-bound through ``from ... import`` are
wrapped in the importing module too. The recorder patches attributes in
memory only and puts every original back on :meth:`Recorder.restore`.

Lazy calls (``extract_df``, ``cache.latest()``, ``score_docs``,
``incremental_minhash_dedup``'s verdict frame) only build plans: their
jobs run, and are counted, inside the span of whichever action executes
the plan.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass

from perfbench import eventlog

TAG_PREFIX = "pb-"

#: Every span name, grouped by layer; ``curate.pass`` is the benchmark's
#: own span around the action that runs the lazy curation plan.
SPAN_NAMES = [
    "fetch", "paginate", "cache.append", "cache.compact",
    "extract", "dedup.probe", "sigstore.ingest", "sigstore.append",
    "sigstore.vacuum", "classifier.score", "selection.budget",
    "collection.upsert",
    "seeding", "growth", "dataset.grow", "dataset.clone", "dataset.save",
    "dataset.commit",
    "stream.batch", "stream.drain",
    "curate.pass",
]


def targets() -> list[tuple[str, object, str]]:
    """``(span name, owner, attribute)`` for every wrapped function."""
    from datagrowth_spark.datatypes import collection
    from datagrowth_spark.operators import classifier, dedup, extraction, selection, sigstore
    from datagrowth_spark.plans import dataset, growth, seeding
    from datagrowth_spark.sources import cache, http
    from datagrowth_spark.streaming import dedup as stream_dedup

    return [
        ("fetch", cache, "fetch"),
        ("fetch", http, "fetch"),
        ("fetch", seeding, "fetch"),
        ("fetch", growth, "fetch"),
        ("paginate", http, "paginated_fetch"),
        ("paginate", seeding, "paginated_fetch"),
        ("cache.append", cache.ResourceCache, "append"),
        ("cache.compact", cache.ResourceCache, "compact"),
        ("extract", extraction, "extract_df"),
        ("extract", seeding, "extract_df"),
        ("dedup.probe", dedup, "incremental_minhash_dedup"),
        ("sigstore.ingest", sigstore.SignatureStore, "ingest"),
        ("sigstore.append", sigstore.SignatureStore, "append"),
        ("sigstore.vacuum", sigstore.SignatureStore, "vacuum"),
        ("classifier.score", classifier.LogRegModel, "score_docs"),
        ("selection.budget", selection, "select_by_token_budget"),
        ("collection.upsert", collection.Collection, "update"),
        ("seeding", seeding.SeedingProcessor, "__call__"),
        ("growth", growth.GrowthProcessor, "__call__"),
        ("dataset.grow", dataset.DatasetWarehouse, "grow"),
        ("dataset.clone", dataset.DatasetWarehouse, "_clone_version"),
        ("dataset.save", dataset.DatasetWarehouse, "save_collection"),
        ("dataset.commit", dataset.DatasetWarehouse, "commit_entry"),
        ("stream.batch", stream_dedup.StreamingNearDupIndex, "process_batch"),
        ("stream.drain", stream_dedup.StreamingNearDupIndex, "start"),
    ]


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = float("nan")

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.span_id}"


class Recorder:
    """Records spans while :attr:`enabled`; a disabled wrapper only
    forwards the call."""

    def __init__(self, spark_context) -> None:
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: list[Span] = []
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            # A span opened on a thread with no span of its own (the
            # foreachBatch thread) belongs to the innermost open span of
            # the thread that is waiting on it.
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            span = Span(next(self._ids), name, parent.span_id if parent else None, time.time())
            self._open.append(span)
        if stack:
            self.sc.removeJobTag(stack[-1].tag)
        self.sc.addJobTag(span.tag)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        stack = self._stack()
        stack.pop()
        self.sc.removeJobTag(span.tag)
        if stack:
            self.sc.addJobTag(stack[-1].tag)
        with self._lock:
            self._open.remove(span)
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the benchmark's own code."""
        if not self.enabled:
            yield
            return
        span = self.open(name)
        try:
            yield
        finally:
            self.close(span)

    def wrap(self, name: str, fn):
        recorder = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not recorder.enabled:
                return fn(*args, **kwargs)
            span = recorder.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                recorder.close(span)

        return wrapper

    def install(self) -> "Recorder":
        for name, owner, attr in targets():
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._originals.append((owner, attr, original))
            setattr(owner, attr, self.wrap(name, original))
        return self

    def restore(self) -> None:
        for owner, attr, original in reversed(self._originals):
            setattr(owner, attr, original)
        self._originals.clear()


def layer_metrics(spans: list[Span], jobs: list[eventlog.Job], window: tuple[float, float]
                  ) -> tuple[dict[str, tuple[float, str]], dict[str, tuple[int, int]]]:
    """Per-span ``calls``/``self_s``/``jobs``/``shuffle_bytes``/``driver_s``
    and the session-wide ``spark.*`` totals over ``window``, plus the
    output ``(bytes, records)`` the jobs of each span name wrote.

    A job is attributed to the innermost span whose tag it carries.
    ``self_s`` is a span's time minus the part its child spans cover;
    ``driver_s`` is the part of the self time that none of the span's
    own jobs covers."""
    by_id = {s.span_id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append(s)
    own: dict[int, list[eventlog.Job]] = {}
    for job in jobs:
        mine = [by_id[int(t[len(TAG_PREFIX):])] for t in job.tags
                if t.startswith(TAG_PREFIX) and int(t[len(TAG_PREFIX):]) in by_id]
        if mine:
            own.setdefault(max(mine, key=lambda s: s.start).span_id, []).append(job)

    # calls, self_s, jobs, shuffle bytes, driver_s, output bytes, output records
    totals = {name: [0, 0.0, 0, 0, 0.0, 0, 0] for name in SPAN_NAMES}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.span_id, [])]
        self_s = (s.end - s.start) - eventlog.union_length(eventlog.clip(kids, s.start, s.end))
        mine = own.get(s.span_id, [])
        covered = eventlog.union_length(
            eventlog.clip([(j.start_s, j.end_s) for j in mine], s.start, s.end))
        for k, value in enumerate((1, self_s, len(mine), sum(j.shuffle_bytes for j in mine),
                                   max(self_s - covered, 0.0),
                                   sum(j.output_bytes for j in mine),
                                   sum(j.output_records for j in mine))):
            totals[s.name][k] += value
    out: dict[str, tuple[float, str]] = {}
    for name, (calls, self_s, n_jobs, shuffle, driver_s, _b, _r) in totals.items():
        out[f"{name}.calls"] = (calls, "count")
        out[f"{name}.self_s"] = (self_s, "s")
        out[f"{name}.jobs"] = (n_jobs, "count")
        out[f"{name}.shuffle_bytes"] = (shuffle, "B")
        out[f"{name}.driver_s"] = (driver_s, "s")
    written = {name: (row[5], row[6]) for name, row in totals.items()}

    lo, hi = window
    in_window = [j for j in jobs if lo <= j.start_s < hi]
    out["spark.jobs"] = (len(in_window), "count")
    out["spark.tasks"] = (sum(j.tasks for j in in_window), "count")
    out["spark.shuffle_bytes"] = (sum(j.shuffle_bytes for j in in_window), "B")
    out["spark.exec_s"] = (sum(j.exec_s for j in in_window), "s")
    out["spark.driver_gap_s"] = (eventlog.driver_gap_s(in_window, lo, hi), "s")
    return out, written
