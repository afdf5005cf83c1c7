"""In-memory span tracer for the traced run.

A span is recorded around each call into a public function of the package
(name, start, end, parent span, trace id of the workload pass).  While a span
is open its id is the Spark job group, so the event log attributes every job
to the innermost span that launched it.  Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @property
    def enabled(self) -> bool:
        return self.trace_id is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans),
              "parent": parent["id"] if parent else None,
              "trace": self.trace_id, "name": name}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, f"span-{sp['id']}")
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1] if self._stack else None
                self.sc.setLocalProperty(
                    GROUP_PROP, f"span-{outer['id']}" if outer else None)

    def patch(self, owner, attr: str, name: str, when=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``
        (only when ``when(*args, **kwargs)`` holds, if given)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if when is not None and not when(*args, **kwargs):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # --- summaries -------------------------------------------------------

    def of_traces(self, traces) -> list[dict]:
        traces = set(traces)
        return [s for s in self.spans if s["trace"] in traces]

    @staticmethod
    def durations(spans, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    @staticmethod
    def self_times(spans) -> dict[str, float]:
        """Per span name: total duration minus the time covered by direct
        children (children of one span never overlap: calls are nested)."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    @staticmethod
    def groups_under(spans, names) -> set[str]:
        """Job groups of the spans named ``names`` and of all spans nested
        in them."""
        ids = {s["id"] for s in spans if s["name"] in names}
        while True:
            more = {s["id"] for s in spans if s["parent"] in ids} - ids
            if not more:
                return {f"span-{i}" for i in ids}
            ids |= more

    def dump(self) -> list[dict]:
        return [{k: (round(v, 6) if isinstance(v, float) else v)
                 for k, v in s.items()} for s in self.spans]
