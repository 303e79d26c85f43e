"""In-memory span tracer for the engine's layers, measured from outside.

``Tracer.instrument`` replaces the package's public layer entry points
(and Spark's ``DataFrame.localCheckpoint``) with timing wrappers,
wherever the package has bound them (module attributes imported by
name included), and ``Tracer.uninstrument`` puts the originals back. Each call becomes one span: name, start, end,
parent span, thread and run id. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time

from contextlib import contextmanager

PKG = "gmall_flink_0526_spark"

# span name -> (module, attribute path) of the public layer entry points
LAYER_CALLS = {
    "sources.write_replay": (f"{PKG}.sources.registry", "write_replay"),
    "sources.read_stream": (f"{PKG}.sources.registry", "ChannelRegistry.read_stream"),
    "sources.write_stream": (f"{PKG}.sources.registry", "ChannelRegistry.write_stream"),
    "sources.write_batch": (f"{PKG}.sources.registry", "ChannelRegistry.write_batch"),
    "sources.dimstore_merge": (f"{PKG}.sources.dimstore", "DimStore.merge"),
    "streaming.replay_stateful": (f"{PKG}.streaming.replay", "replay_stateful"),
    "streaming.drain": (f"{PKG}.streaming.replay", "drain"),
    "operators.scoped_persist": (f"{PKG}.operators.cache", "scoped_persist"),
    "operators.release_scoped": (f"{PKG}.operators.cache", "release_scoped"),
    # Spark's own call, counted for the per-epoch checkpoints of the
    # foreachBatch apps (the classic-session class defines it)
    "streaming.local_checkpoint": ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint"),
}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.get_ident(),
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["end_wall"] = time.time()
            self.spans.append(rec)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if rec is not None and name == "streaming.drain" and args:
                    rec["query_id"] = str(args[0].id)
                return fn(*args, **kwargs)

        return wrapper

    def instrument(self) -> None:
        """Wrap every LAYER_CALLS entry and start recording."""
        import importlib

        for name, (mod, path) in LAYER_CALLS.items():
            owner = importlib.import_module(mod)
            *cls, attr = path.split(".")
            for c in cls:
                owner = getattr(owner, c)
            orig = getattr(owner, attr)
            wrapped = self._wrap(name, orig)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, wrapped)
            if cls:
                continue
            # rebind copies imported by name into other package modules
            for mname, m in list(sys.modules.items()):
                if m is None or m is owner or not mname.startswith(PKG):
                    continue
                if getattr(m, attr, None) is orig:
                    self._patched.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        self.enabled = True

    def uninstrument(self) -> None:
        self.enabled = False
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
