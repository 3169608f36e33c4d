"""In-memory span tracer and the wrapping that feeds it.

A span is ``[name, start, end, parent, request]``: ``parent`` is the index
of the enclosing span (or -1) and ``request`` the index of the benchmark
operation that was running. Spans stay in a list and are written out once,
at the end of a run.

``install`` wraps public functions and methods of the engine's modules from
the outside, by rebinding module and class attributes: no package file
changes. A function imported by name into another module (``from
...tables import load_table``) is rebound there too, so every call site is
seen. ``self_times`` holds the span arithmetic the per-layer metrics are
built from.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time

_now = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.request = -1
        self.counters: dict[str, float] = {}
        # set_group(tag) -> previous tag: Spark job-group hook, installed by
        # the worker on traced runs once a session exists
        self.set_group = None
        # seconds the tracer's own code took inside timed requests
        self.overhead = 0.0

    def in_span(self, prefix: str) -> bool:
        return any(self.spans[i][0].startswith(prefix) for i in self.stack)

    def charge(self, t0: float) -> None:
        """Book the time since ``t0`` as tracing overhead (timed requests only)."""
        if self.request >= 0:
            self.overhead += _now() - t0

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """A span; with ``group``, Spark jobs started inside it are tagged
        ``<request>|<group>`` until it ends (the enclosing tag is restored).
        Its own bookkeeping, job-group calls included, is charged as overhead
        and lies outside ``[start, end]``."""
        t0 = _now()
        span = [name, None, None, self.stack[-1] if self.stack else -1, self.request]
        self.spans.append(span)
        self.stack.append(len(self.spans) - 1)
        tag = group is not None and self.set_group is not None
        prev = self.set_group(f"{self.request}|{group}") if tag else None
        span[1] = _now()
        self.charge(t0)
        try:
            yield
        finally:
            span[2] = t1 = _now()
            if tag:
                self.set_group(prev)
            self.stack.pop()
            self.charge(t1)

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n


TRACER = Tracer()


def self_times(spans: list[list]) -> list[float]:
    """Per span: its duration minus the time its direct children cover."""
    out = [s[2] - s[1] for s in spans]
    for s in spans:
        if s[3] >= 0:
            out[s[3]] -= s[2] - s[1]
    return out


def _wrap(fn, name: str, group: str | None = None, outermost: str | None = None):
    """``fn`` inside a span ``name``; with ``outermost``, calls made while a
    span of that prefix is open pass straight through."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if outermost is not None:
            t0 = _now()
            inner = TRACER.in_span(outermost)
            TRACER.charge(t0)
            if inner:
                return fn(*args, **kwargs)
        with TRACER.span(name, group):
            return fn(*args, **kwargs)

    return wrapper


def _rebind(replacements: dict[int, object]) -> None:
    """Point every package module attribute bound to a wrapped original at
    its wrapper (catches ``from x import f`` copies)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("mandoline_hbase_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            w = replacements.get(id(val))
            if w is not None:
                setattr(mod, attr, w)


def parquet_files(table_dir: str) -> int:
    try:
        return sum(1 for f in os.listdir(table_dir) if f.endswith(".parquet"))
    except OSError:
        return 0


def install() -> None:
    """Wrap the engine's public entry points. Call once, before any query
    module is used (the catalog must already be imported)."""
    import importlib
    import pkgutil

    from mandoline_hbase_spark import chunkstore, codec, engine, index, maintenance, storage
    from mandoline_hbase_spark import operators as ops_pkg
    from mandoline_hbase_spark.sources import tables

    repl: dict[int, object] = {}

    def module_fn(mod, attr, name, **kw):
        orig = getattr(mod, attr)
        repl[id(orig)] = _wrap(orig, name, **kw)

    def method(cls, attr, name, **kw):
        setattr(cls, attr, _wrap(getattr(cls, attr), name, **kw))

    module_fn(tables, "load_table", "sources.load_table", group="sources")
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for attr, val in vars(mod).items():
            if (not attr.startswith("_") and inspect.isfunction(val)
                    and val.__module__ == mod.__name__):
                repl[id(val)] = _wrap(val, f"operators.{info.name}.{attr}",
                                      group="operators", outermost="operators.")

    method(engine.Connection, "update_region", "engine.update_region")
    method(engine.Connection, "read_region", "engine.read_region")
    method(engine.Connection, "resolve_chunk_map", "engine.resolve_chunk_map")
    method(engine.Connection, "tidy_view", "engine.tidy_view")
    method(chunkstore.ChunkStore, "read_chunk", "chunkstore.read_chunk")
    method(chunkstore.ChunkStore, "write_chunks_bulk", "chunkstore.write_chunks_bulk")
    method(index.Index, "write_index_bulk", "index.write_index_bulk")
    module_fn(codec, "encode_chunk", "codec.encode")
    module_fn(codec, "decode_chunk", "codec.decode")
    module_fn(codec, "chunk_id_of", "codec.hash")
    module_fn(storage, "commit_version_row", "storage.commit_version_row")
    module_fn(maintenance, "compact_chunks", "maintenance.compact_chunks", group="maintenance")
    module_fn(maintenance, "compact_indices", "maintenance.compact_indices", group="maintenance")

    orig_scan, orig_append = storage.scan, storage.append_rows
    orig_append_table, orig_lock = storage.append_table, storage.dataset_lock

    def scan(table_dir, *a, **k):
        t0 = _now()
        TRACER.count("storage.scan.files", parquet_files(table_dir))
        TRACER.charge(t0)
        with TRACER.span("storage.scan"):
            return orig_scan(table_dir, *a, **k)

    def _appended(path):
        t0 = _now()
        TRACER.count("storage.append.bytes", os.path.getsize(path))
        TRACER.charge(t0)
        return path

    def append_rows(*a, **k):
        with TRACER.span("storage.append"):
            path = orig_append(*a, **k)
        return _appended(path)

    def append_table(*a, **k):
        with TRACER.span("storage.append"):
            path = orig_append_table(*a, **k)
        return _appended(path)

    @contextlib.contextmanager
    def dataset_lock(*a, **k):
        cm = orig_lock(*a, **k)
        t0 = _now()
        with cm:
            TRACER.count("storage.lock_wait_s", _now() - t0)
            yield

    for orig, w in ((orig_scan, scan), (orig_append, append_rows),
                    (orig_append_table, append_table), (orig_lock, dataset_lock)):
        repl[id(orig)] = w
    _rebind(repl)

