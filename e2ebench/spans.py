"""In-memory spans for the traced benchmark run.

A span has a name, start, end (``time.perf_counter`` seconds), the id
of the span that caused it, and the id of the page or micro-batch it
belongs to. Spans are recorded by wrapping the public functions of the
program's modules from the outside (``Tracer.wrap_function``) and kept
in a list until the run ends, when ``dump`` writes them out.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import json
import sys
import time
from collections import defaultdict

# (span id, trace id) of the innermost open span in this context;
# asyncio tasks and asyncio.to_thread copy it, so a page's spans nest
# across the event loop and the worker thread that collects the page.
_CURRENT: contextvars.ContextVar[tuple[int, object] | None] = contextvars.ContextVar(
    "e2ebench_span", default=None
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.patched: list[tuple[object, str, object]] = []

    # -- recording --------------------------------------------------------
    def record(self, name, start, end, parent=None, trace=None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "trace": trace, **attrs}
        )
        return sid

    def open(self, name: str, trace=None):
        """Start a span under the current one; returns a closer that
        records it and restores the context."""
        cur = _CURRENT.get()
        parent, inherited = cur if cur else (None, None)
        trace = inherited if trace is None else trace
        sid = next(self._ids)
        token = _CURRENT.set((sid, trace))
        start = time.perf_counter()

        def close(**attrs) -> None:
            _CURRENT.reset(token)
            self.spans.append(
                {"id": sid, "name": name, "start": start,
                 "end": time.perf_counter(), "parent": parent,
                 "trace": trace, **attrs}
            )

        return close

    @staticmethod
    def current_trace():
        cur = _CURRENT.get()
        return cur[1] if cur else None

    # -- wrapping ---------------------------------------------------------
    def span_wrapper(self, fn, name: str):
        """Wrap ``fn`` so each call records a span."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            close = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                close()
        return wrapper

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` and every module-level alias of the
        same object in the program's package and its query entry module
        (``from x import f`` copies), remembering the originals for
        ``unpatch``."""
        original = getattr(owner, attr)
        targets = [(owner, attr)]
        for mod_name, mod in list(sys.modules.items()):
            ours = mod_name.startswith("pennsieve_streaming_spark") or mod_name == "__spark_entry__"
            if not ours or mod is owner:
                continue
            for k, v in list(vars(mod).items()):
                if v is original:
                    targets.append((mod, k))
        for obj, key in targets:
            self.patched.append((obj, key, getattr(obj, key)))
            setattr(obj, key, replacement)

    def wrap_function(self, owner, attr: str, name: str) -> None:
        self.patch(owner, attr, self.span_wrapper(getattr(owner, attr), name))

    def unpatch(self) -> None:
        for obj, key, original in reversed(self.patched):
            setattr(obj, key, original)
        self.patched.clear()

    # -- analysis -----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (clipped to the span)."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += selfs[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "summary": self.summary()}, f)
