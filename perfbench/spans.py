"""Span tracing around the program's public functions, from outside.

The tracer replaces a function or method with a wrapper that records a
span (name, start, end, parent, request id) and puts the original back on
`uninstall`. Spans stay in memory until the run ends, when `summarize`
turns them into per-layer figures. Nothing here edits the program's
modules on disk: wrappers are installed on the loaded module objects
only, in the benchmark's own process.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict

from stats import interval_union_length

PACKAGE = "railgun_spark"


class Tracer:
    """`default_active=False` records nothing on a thread until it calls
    `set_active(True)`; the server uses this to trace every other request,
    so traced and untraced requests share one cache state."""

    def __init__(self, default_active: bool = True):
        self.default_active = default_active
        self.spans: list[tuple] = []  # (id, parent, request, name, start, end)
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple] = []
        self._count_lock = threading.Lock()

    # ---- span context ----
    def active(self) -> bool:
        return getattr(self._local, "active", self.default_active)

    def set_active(self, on: bool) -> None:
        self._local.active = on

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def request_id(self):
        return getattr(self._local, "request", None)

    @request_id.setter
    def request_id(self, value):
        self._local.request = value

    def begin(self, name: str) -> list:
        st = self._stack()
        rec = [next(self._ids), st[-1][0] if st else None, self.request_id, name, time.perf_counter(), None]
        st.append(rec)
        return rec

    def end(self, rec: list) -> None:
        rec[5] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is rec:
            st.pop()
        self.spans.append(tuple(rec))

    def count(self, name: str, value: float = 1.0) -> None:
        with self._count_lock:
            self.counts[name] += value

    def calls_on_this_thread(self, name: str) -> int:
        return getattr(self._local, "calls", {}).get(name, 0)

    def _bump_thread_calls(self, name: str) -> None:
        calls = getattr(self._local, "calls", None)
        if calls is None:
            calls = self._local.calls = {}
        calls[name] = calls.get(name, 0) + 1

    # ---- wrappers ----
    def wrap(self, fn, name: str, on_result=None):
        """A wrapper recording one span per call; `on_result(args, kwargs,
        result, thread_calls_before)` may add counts at the same boundary."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            before = dict(getattr(tracer._local, "calls", {})) if on_result else None
            tracer._bump_thread_calls(name)
            rec = tracer.begin(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.end(rec)
            if on_result is not None:
                on_result(args, kwargs, result, before)
            return result

        return wrapper

    def install_function(self, module_name: str, attr: str, name: str, on_result=None,
                         package: str = PACKAGE) -> None:
        """Replace `module.attr` everywhere the package's loaded modules
        hold a reference to it (modules that did `from x import attr`
        keep their own binding)."""
        original = getattr(sys.modules[module_name], attr)
        wrapper = self.wrap(original, name, on_result)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapper)
                    self._undo.append((mod, key, original))

    def install_method(self, cls, attr: str, name: str, on_result=None) -> None:
        original = cls.__dict__[attr]
        setattr(cls, attr, self.wrap(original, name, on_result))
        self._undo.append((cls, attr, original))

    def uninstall(self) -> None:
        for owner, key, original in reversed(self._undo):
            setattr(owner, key, original)
        self._undo.clear()


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (children that overlap each other count once)."""
    children: dict[int, list] = defaultdict(list)
    for sid, parent, _req, _name, start, end in spans:
        if parent is not None:
            children[parent].append((start, end))
    out = {}
    for sid, _parent, _req, _name, start, end in spans:
        covered = interval_union_length(children.get(sid, ()), start, end)
        out[sid] = (end - start) - covered
    return out


def summarize(spans) -> dict[str, dict]:
    """Per span name: calls, mean duration and mean self time (seconds)."""
    selfs = self_times(spans)
    acc: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
    for sid, _parent, _req, name, start, end in spans:
        a = acc[name]
        a[0] += 1
        a[1] += end - start
        a[2] += selfs[sid]
    return {
        name: {"calls": n, "mean_s": tot / n, "mean_self_s": self_tot / n}
        for name, (n, tot, self_tot) in acc.items()
    }
