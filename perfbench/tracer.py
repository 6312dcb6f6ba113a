"""Span tracer for the traced run (``--trace 1``).

The tracer wraps the public entry points of each engine layer from the
outside: class methods are replaced on the class, and module functions
are replaced in their defining module *and* in every ``messdb_spark``
module that bound them with a top-level ``from ... import`` (for
example ``plans.incremental`` binds ``hashing.bucket_content_hashes``).
Imports done inside a function body resolve through the defining
module at call time, so they see the wrapper too.

Spans live in memory, each with its parent's id, and are written out
when the run ends. A span's self time is its duration minus the part
of it covered by its child spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time

#: (module, class or None, attribute, span name)
TARGETS = [
    ("messdb_spark.engine", "Engine", "transaction", "engine.transaction"),
    ("messdb_spark.engine", "Engine", "save_table", "engine.save_table"),
    ("messdb_spark.engine", "Engine", "save_bucketed_table",
     "engine.save_bucketed_table"),
    ("messdb_spark.engine", "Engine", "load_table", "engine.load_table"),
    ("messdb_spark.engine", "Engine", "relink_table", "engine.relink_table"),
    ("messdb_spark.store", "ObjectStore", "put", "store.put"),
    ("messdb_spark.store", "ObjectStore", "save", "store.save"),
    ("messdb_spark.store", "ObjectStore", "load", "store.load"),
    ("messdb_spark.store", "ObjectStore", "load_many", "store.load_many"),
    ("messdb_spark.store", "MemoStore", "get", "memo.get"),
    ("messdb_spark.store", "MemoStore", "put", "memo.put"),
    ("messdb_spark.store", "MemoStore", "put_many", "memo.put_many"),
    ("messdb_spark.store", "Catalog", "put", "catalog.put"),
    ("messdb_spark.store", "Catalog", "put_many", "catalog.put_many"),
    ("messdb_spark.plans.views", "Materializer", "materialize",
     "views.materialize"),
    ("messdb_spark.hashing", None, "table_content_hash",
     "hashing.table_content_hash"),
    ("messdb_spark.hashing", None, "bucket_content_hashes",
     "hashing.bucket_content_hashes"),
    ("messdb_spark.hashing", None, "observed_content_hash",
     "hashing.observed_content_hash"),
    ("messdb_spark.hashing", None, "observed_bucket_hashes",
     "hashing.observed_bucket_hashes"),
    ("messdb_spark.plans.incremental", None, "incremental_upsert",
     "incremental.upsert"),
    ("messdb_spark.plans.incremental", None, "write_bucketed",
     "incremental.write_bucketed"),
    ("messdb_spark.plans.incremental", None, "incremental_agg_view",
     "incremental.agg_view"),
    ("messdb_spark.plans.incremental", None, "incremental_map_view",
     "incremental.map_view"),
    ("messdb_spark.plans.incremental", None, "read_bucketed",
     "incremental.read_bucketed"),
    ("messdb_spark.plans.incremental", None, "save_manifest",
     "incremental.save_manifest"),
    ("messdb_spark.operators.core", None, "diff_tables", "core.diff_tables"),
    ("messdb_spark.operators.core", None, "canonicalize_input",
     "core.canonicalize_input"),
    ("messdb_spark.queries.graph", None, "dedup_near_incremental",
     "graph.dedup_near"),
]


class _TracedContext:
    """A context manager returned by a traced call (``Engine.transaction``).
    Its ``__enter__`` and ``__exit__`` get spans of their own (``.begin``
    and ``.commit``): the body between them is the caller's work, not
    the context manager's."""

    def __init__(self, tracer: "Tracer", name: str, cm) -> None:
        self._tracer, self._name, self._cm = tracer, name, cm

    def __enter__(self):
        span = self._tracer.open(self._name + ".begin")
        try:
            return self._cm.__enter__()
        finally:
            self._tracer.close(span)

    def __exit__(self, *exc):
        span = self._tracer.open(self._name + ".commit")
        try:
            return self._cm.__exit__(*exc)
        finally:
            self._tracer.close(span)


class Tracer:
    """Records spans while :attr:`active`; installed wrappers call
    straight through otherwise, so traced and untraced operations can
    alternate within one run."""

    def __init__(self) -> None:
        self.active = False
        self.op: tuple | None = None       # (operation index, phase)
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._ids = 0
        self._lock = threading.Lock()

    # -- span recording -------------------------------------------------
    def open(self, name: str):
        if not self.active:
            return None
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            self._ids += 1
            sid = self._ids
        span = {"id": sid, "parent": stack[-1] if stack else None,
                "name": name, "op": self.op, "t0": time.perf_counter()}
        stack.append(sid)
        return span

    def close(self, span) -> None:
        if span is None:
            return
        span["t1"] = time.perf_counter()
        stack = self._stack.ids
        stack.remove(span["id"])
        with self._lock:
            self.spans.append(span)

    def _wrap(self, name: str, fn, context: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if context:
                return _TracedContext(tracer, name, fn(*args, **kwargs))
            span = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)
        return traced

    # -- patching -------------------------------------------------------
    def install(self) -> None:
        """Wrap every target. Import every module whose calls should be
        traced before installing: bindings made later are not found."""
        wrapped = {}
        for mod_name, cls_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            if cls_name is not None:
                cls = getattr(mod, cls_name)
                setattr(cls, attr, self._wrap(
                    name, cls.__dict__[attr], context=(name ==
                                                       "engine.transaction")))
                continue
            orig = getattr(mod, attr)
            wrapped[orig] = self._wrap(name, orig)
        for w in wrapped.values():
            # functools.wraps copied attributes such as
            # table_content_hash.observed, which still name the
            # unwrapped function; point them at its wrapper
            for k, v in list(vars(w).items()):
                if k != "__wrapped__" and callable(v) and v in wrapped:
                    setattr(w, k, wrapped[v])
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == "messdb_spark"
                                   or mod_name.startswith("messdb_spark.")):
                continue
            for k, v in list(vars(mod).items()):
                if callable(v) and not isinstance(v, type):
                    try:
                        w = wrapped.get(v)
                    except TypeError:       # unhashable callable
                        continue
                    if w is not None:
                        setattr(mod, k, w)

    # -- results --------------------------------------------------------
    def self_times(self) -> list[dict]:
        """Spans with ``self_s`` (duration minus the union of the
        child spans' intervals) and ``dur_s``."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        out = []
        for s in self.spans:
            covered, end = 0.0, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["t0"]), min(b, s["t1"])
                if end is not None:
                    a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            dur = s["t1"] - s["t0"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def dump(self, path: str, spans: list[dict]) -> None:
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
