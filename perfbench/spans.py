"""Spans recorded from the benchmark's own files.

A span is (id, name, start, end, parent, run id). Spans live in memory
and are written out once, at the end of a traced run. Spark is lazy, so
a span around a DataFrame-building call measures only planning; each
span therefore runs under its own Spark job group, and the stages of
that group are the execution attributed to it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time

from sparkstats import covered


class Tracer:
    """Records spans; with ``enabled=False`` every method is a no-op, so
    the timed runs share the traced runs' code paths."""

    def __init__(self, sc, run_id: str, enabled: bool, calls: tuple = ()):
        """``calls``: (module, class or None, function, span name) of the
        public calls :meth:`patched` wraps in spans."""
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.calls = calls
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def group(self, span: dict) -> str:
        return f"{self.run_id}.{span['id']}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self.group(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span
        (undone by :meth:`unwrap`). Calls the program makes through the
        module attribute are traced too."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    @contextlib.contextmanager
    def patched(self):
        """Wrap every call in ``self.calls`` for the duration of the block."""
        try:
            for mod, cls, attr, name in self.calls if self.enabled else ():
                owner = importlib.import_module(mod)
                self.wrap(getattr(owner, cls) if cls else owner, attr, name)
            yield
        finally:
            self.unwrap()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, span: dict) -> list[dict]:
        kids = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], ()))
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")
