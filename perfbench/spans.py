"""Spans recorded from the benchmark's side of the program's public
functions. Traced mode wraps each listed function where the program's
modules reference it, so calls made inside the program (``silver_build``
calling ``cleanse``) are timed too; the source files are untouched.
Spans stay in memory and are written once, when the run ends."""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "event_driven_data_pipeline_for_e_commerce_spark"

# (module under the package, function, span name)
TRACED = (
    ("plans.tables", "load_tables", "plans.tables.load"),
    ("operators.cleansing", "cleanse", "cleansing.cleanse"),
    ("operators.surrogate_keys", "with_surrogate_key_scalable", "surrogate_keys.assign"),
    ("operators.surrogate_keys", "with_surrogate_key_ranged", "surrogate_keys.assign"),
    ("operators.surrogate_keys", "with_surrogate_key_dense", "surrogate_keys.assign"),
    ("operators.scd2", "scd2_merge", "scd2.merge"),
    ("operators.scd2", "scd2_init", "scd2.merge"),
    ("operators.scd2", "scd2_write", "scd2.write"),
    ("operators.pinning", "pin", "pinning.pin"),
    ("operators.incremental", "ingest_increment", "incremental.ingest"),
    ("sources.io", "read_csv_dir", "io.read_csv"),
    ("sources.io", "write_table", "io.write"),
)

# modules that call the traced functions and may import them by name
CALLERS = ("pipelines.medallion", "streaming.streams", "streaming.stateful", "plans.corpus")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace each listed function in every loaded module of the
        program that holds a reference to it."""
        for mod_name in {m for m, _, _ in TRACED} | set(CALLERS):
            importlib.import_module(f"{PACKAGE}.{mod_name}")
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for mod_name, fn_name, span_name in TRACED:
            home = sys.modules[f"{PACKAGE}.{mod_name}"]
            original = getattr(home, fn_name)
            wrapper = self._wrap(original, span_name)
            for mod in modules:
                if mod.__dict__.get(fn_name) is original:
                    self._patched.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapper)

    def uninstall(self) -> None:
        for mod, fn_name, original in reversed(self._patched):
            setattr(mod, fn_name, original)
        self._patched.clear()

    def select(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and t0 <= s["start"] < t1]

    def total_s(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> float:
        """Seconds inside spans of ``name`` started in [t0, t1); a span
        nested in another of the same name is not counted twice."""
        spans = self.select(name, t0, t1)
        ids = {s["id"] for s in spans}
        parents = {s["id"]: s["parent"] for s in self.spans}

        def nested(span: dict) -> bool:
            parent = span["parent"]
            while parent is not None:
                if parent in ids:
                    return True
                parent = parents.get(parent)
            return False

        return sum(s["end"] - s["start"] for s in spans if not nested(s))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, **extra}, fh)
