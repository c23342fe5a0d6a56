"""Spans and counters recorded from outside the engine.

The benchmark wraps, in its own process only, the calls between the
engine's modules (pipeline → merge → format → bloom, and the maintenance
entry points). Nothing under `airbyte_spark/` is edited: `Patcher` swaps
attributes on the imported modules and classes and puts them back on close.

`ByteMeter` is always installed (three O(1) wrappers, no Spark job, no
span): it counts the data, Bloom-sidecar and manifest bytes the lake
writes, which `bytes_written_per_event` needs. `Tracer` is installed only
in the traced run: it records a span per wrapped call (name, start, end,
parent, checkpoint key) and sets a Spark local property on the calling
thread so every job the call launches is attributed to the span in the
event log.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


class Patcher:
    """Replace class or module attributes; `close()` restores them."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make):
        raw = owner.__dict__[attr]
        func = raw.__func__ if isinstance(raw, staticmethod) else raw
        new = make(func)
        setattr(owner, attr, staticmethod(new) if isinstance(raw, staticmethod) else new)
        self._saved.append((owner, attr, raw))

    def close(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)


def _sidecar_bytes(entry) -> int:
    """Size of a data file's Bloom sidecar, from the {m, k} its stats carry
    (the sidecar is a 12-byte header plus m/8 bytes of bits)."""
    return sum(
        12 + st["bloom"]["m"] // 8
        for st in entry.stats.values()
        if isinstance(st, dict) and "bloom" in st
    )


class ByteMeter:
    """Bytes the lake writes: data files and their sidecars as committed,
    plus manifest heads and segments as published. Counting only happens
    while `on` is set, so set-up and warm-up are excluded."""

    def __init__(self, patcher: Patcher):
        from airbyte_spark.lake.format import LakeTable

        self.on = False
        self.data = 0
        self.manifest = 0
        self._lock = threading.Lock()
        meter = self

        def commit(orig):
            def wrapped(self, added, *a, **kw):
                if meter.on:
                    n = sum(e.bytes + _sidecar_bytes(e) for e in added)
                    with meter._lock:
                        meter.data += n
                return orig(self, added, *a, **kw)

            return wrapped

        def write_manifest(orig):
            def wrapped(self, manifest):
                v = orig(self, manifest)
                if meter.on:
                    meter._add_manifest(os.path.getsize(self._manifest_path(v)))
                return v

            return wrapped

        def write_segment(orig):
            def wrapped(self, payload):
                rel = orig(self, payload)
                if meter.on:
                    meter._add_manifest(os.path.getsize(os.path.join(self.path, rel)))
                return rel

            return wrapped

        patcher.wrap(LakeTable, "commit", commit)
        patcher.wrap(LakeTable, "_write_manifest", write_manifest)
        patcher.wrap(LakeTable, "_write_segment", write_segment)

    def _add_manifest(self, n: int) -> None:
        with self._lock:
            self.manifest += n

    @property
    def total(self) -> int:
        return self.data + self.manifest


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float | None = None
    key: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.t1 or self.t0) - self.t0


def _ckpt_label(checkpoint_key) -> str:
    keys = [checkpoint_key] if isinstance(checkpoint_key, str) else list(checkpoint_key)
    return ",".join(keys)


class Tracer:
    """In-memory span recorder. Spans nest per thread. A call made on a
    worker of the footer-stats thread pool inside `_stage_write` has no
    stack of its own and is parented to the newest open `format.stage_write`
    span; calls on other threads without a stack (the benchmark polling the
    committed set) belong to no span. Counters add to the innermost open
    span of the calling thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._open_writes: list[Span] = []

    def _stack(self) -> list[Span]:
        s = getattr(self._tls, "stack", None)
        if s is None:
            s = self._tls.stack = []
        return s

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        if not threading.current_thread().name.startswith("ThreadPoolExecutor"):
            return None
        with self._lock:
            return self._open_writes[-1] if self._open_writes else None

    def open(self, name: str, key: str | None = None, jobs: bool = False) -> Span:
        parent = self.current()
        sp = Span(next(self._ids), name, parent.id if parent else None, time.time(), key=key)
        with self._lock:
            self.spans.append(sp)
            if name == "format.stage_write":
                self._open_writes.append(sp)
        self._stack().append(sp)
        if jobs:
            sp.attrs["_prev_prop"] = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, str(sp.id))
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.time()
        if "_prev_prop" in sp.attrs:
            self.sc.setLocalProperty(SPAN_PROP, sp.attrs.pop("_prev_prop"))
        self._stack().pop()
        if sp.name == "format.stage_write":
            with self._lock:
                self._open_writes.remove(sp)

    def add(self, counter: str, n: float = 1) -> None:
        sp = self.current()
        if sp is not None:
            sp.attrs[counter] = sp.attrs.get(counter, 0) + n

    def wrapper(self, name: str, jobs: bool, key_of=None, after=None):
        """Decorator factory: a span around each call. `key_of(args, kw)`
        names the checkpoint key; `after(span, args, kw, result)` records
        counts once the span has ended (outside its interval)."""

        def make(orig):
            def wrapped(*args, **kw):
                with self.span(name, key_of(args, kw) if key_of else None, jobs) as sp:
                    res = orig(*args, **kw)
                if after is not None:
                    after(sp, args, kw, res)
                return res

            return wrapped

        return make

    def install(self, patcher: Patcher) -> None:
        from airbyte_spark.lake import bloom as bloom_mod
        from airbyte_spark.lake import format as format_mod
        from airbyte_spark.lake import merge as merge_mod
        from airbyte_spark.streaming import pipeline as pipeline_mod

        LakeTable = format_mod.LakeTable
        CdcPipeline = pipeline_mod.CdcPipeline
        w = self.wrapper

        def apply_key(args, kw):
            return _ckpt_label(kw.get("checkpoint_key", args[2] if len(args) > 2 else ""))

        patcher.wrap(CdcPipeline, "replay", w("pipeline.replay", True))
        patcher.wrap(CdcPipeline, "_plan_replay", w("pipeline.plan", True))
        patcher.wrap(CdcPipeline, "apply_batch", w("pipeline.apply", True, apply_key))
        # apply_batch resolves the write function from the pipeline module's
        # globals at call time, so the wrapped names must be set there
        patcher.wrap(pipeline_mod, "merge_upsert", w("merge.merge_upsert", True))
        patcher.wrap(pipeline_mod, "append_winners", w("merge.append_winners", True))
        patcher.wrap(merge_mod, "compact_versions", w("maint.compact_versions", True))

        def prune_after(sp, args, kw, res):
            bounds = args[1]
            files = sp.attrs.pop("_files", [])
            in_bucket = sum(
                1 for e in files
                if not e.partition or int(next(iter(e.partition.values()))) in bounds
            )
            sp.attrs.update(
                live_files=len(files),
                after_bucket_files=in_bucket,
                after_range_files=len(res) + sp.attrs.get("bloom_rejects", 0),
                candidate_files=len(res),
                candidate_rows=sum(e.rows for e in res),
            )

        patcher.wrap(merge_mod, "_prune_candidates", w("merge.prune", False, after=prune_after))
        patcher.wrap(LakeTable, "_stage_write", w("format.stage_write", True))
        patcher.wrap(format_mod, "_collect_parquet_stats", w("format.footer_stats", False))
        patcher.wrap(bloom_mod.KeyBloom, "build", w("bloom.build", False))
        patcher.wrap(LakeTable, "load_bloom", w("bloom.load", False))

        def commit_make(orig):
            inner = w("format.commit", False)(orig)

            def wrapped(table, added, removed_paths=None, *a, **kw):
                removed = sum(
                    os.path.getsize(os.path.join(table.path, p))
                    for p in (removed_paths or ())
                    if os.path.exists(os.path.join(table.path, p))
                )
                self.add("format.bytes_removed", removed)
                self.add("format.files_written", len(added))
                self.add("format.bytes_written", sum(e.bytes + _sidecar_bytes(e) for e in added))
                return inner(table, added, removed_paths, *a, **kw)

            return wrapped

        patcher.wrap(LakeTable, "commit", commit_make)

        def manifest_bytes(kind):
            def make(orig):
                def wrapped(table, payload):
                    res = orig(table, payload)
                    path = (
                        table._manifest_path(res) if kind == "head"
                        else os.path.join(table.path, res)
                    )
                    self.add("format.manifest_bytes", os.path.getsize(path))
                    return res

                return wrapped

            return make

        patcher.wrap(LakeTable, "_write_manifest", manifest_bytes("head"))
        patcher.wrap(LakeTable, "_write_segment", manifest_bytes("segment"))

        def probe(orig):
            def wrapped(bloom, pairs):
                res = orig(bloom, pairs)
                self.add("bloom_probes")
                if not res:
                    self.add("bloom_rejects")
                return res

            return wrapped

        patcher.wrap(bloom_mod.KeyBloom, "might_contain_any", probe)

        # manifest reads: outermost manifest()/files()/committed() calls only
        # (files() and committed() read through manifest())
        def manifest_read(orig):
            def wrapped(table, *a, **kw):
                depth = getattr(self._tls, "mdepth", 0)
                self._tls.mdepth = depth + 1
                t0 = time.time()
                try:
                    res = orig(table, *a, **kw)
                finally:
                    self._tls.mdepth = depth
                if depth == 0:
                    self.add("manifest_reads")
                    self.add("manifest_read_s", time.time() - t0)
                    if orig.__name__ == "files":
                        sp = self.current()
                        if sp is not None and sp.name == "merge.prune":
                            sp.attrs["_files"] = res
                return res

            return wrapped

        for attr in ("manifest", "files", "committed"):
            patcher.wrap(LakeTable, attr, manifest_read)
        for attr, name in (("compact", "maint.compact"), ("expire_snapshots", "maint.expire"),
                           ("vacuum", "maint.vacuum")):
            patcher.wrap(LakeTable, attr, w(name, True))

    @contextmanager
    def span(self, name: str, key: str | None = None, jobs: bool = False):
        """A span around a block of the benchmark's own code."""
        sp = self.open(name, key, jobs)
        try:
            yield sp
        finally:
            self.close(sp)
