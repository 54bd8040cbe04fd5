"""In-memory spans around the public calls of each engine layer.

The wrappers are installed at class level from the benchmark's own files;
nothing under ``vector_db_api_spark/`` knows about them. A span records
its name, start, end, parent span and request id. Spans stay in memory and
are written out once, when the run ends. The time the wrappers themselves
spend is summed into ``overhead_s`` so a traced run can say what tracing
cost it. Only calls on the thread that installed the tracer are recorded:
the spans of one request nest on one stack, and the operators that fan out
to pool threads do so below the traced methods.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

# (module, class, public methods) — the layer is the module path under the
# package, which is how the metric names refer to it
LAYERS = (
    ("api.facade", "Facade", (
        "search", "upsert_chunk", "delete_chunk", "create_document_with_chunks",
        "create_library", "create_document", "bulk_upsert_chunks",
        "rebuild_index")),
    ("api.service", "Engine", (
        "search", "upsert_chunk", "upsert_chunks", "delete_chunk",
        "create_document", "create_library", "rebuild_index")),
    ("lifecycle", "IndexLifecycle", ("search", "apply_delta", "remove", "rebuild")),
    ("operators.ivf", "IVFIndex", ("from_frame", "train", "assign", "search")),
    ("sources.store", "EntityStore", (
        "read", "write", "write_partitions", "partition_blooms")),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.request: str | None = None
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._undo: list = []
        self._thread = threading.get_ident()

    # -- recording -------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": self.request, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation ----------------------------------------------------

    def install(self) -> "Tracer":
        import importlib

        for mod_name, cls_name, methods in LAYERS:
            cls = getattr(
                importlib.import_module(f"vector_db_api_spark.{mod_name}"), cls_name
            )
            for m in methods:
                raw = cls.__dict__[m]
                name = f"{mod_name}.{m}"
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name))
                else:
                    new = self._wrap(raw, name)
                setattr(cls, m, new)
                self._undo.append((cls, m, raw))
        return self

    def uninstall(self) -> None:
        for cls, m, raw in reversed(self._undo):
            setattr(cls, m, raw)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
