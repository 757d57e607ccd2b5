"""Spans around the package's public functions, for the traced run.

The tracer wraps module attributes from the outside (the package is not
edited): every call of a wrapped function opens a span that records wall
and self time, and sets a Spark job description naming the span, so each
stage the call submits can be attributed to it afterwards from the status
store. On exit the parent span's description is restored. A stage counts
toward the innermost span open when its job was submitted.

A span around a lazy builder (``validate_full``, ``incremental_verdicts``)
measures driver-side planning only; the execution shows up in the span of
the action that runs the plan (a checkpoint or a write).
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrameWriter

_DESC = "spark.job.description"
_TAG = "perfbench|"


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "child_s")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = time.time()
        self.end = self.start
        self.child_s = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.write_labels: dict[str, str] = {}  # output dir -> span name

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent)
        self.spans.append(sp)
        prev = self._sc.getLocalProperty(_DESC)
        self._sc.setLocalProperty(_DESC, f"{_TAG}{sp.sid}|{name}")
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            self._sc.setLocalProperty(_DESC, prev)
            sp.end = time.time()
            if parent is not None:
                parent.child_s += sp.wall_s

    def span_of(self, description: str | None) -> Span | None:
        """The span whose job description a stage carries."""
        if not description or not description.startswith(_TAG):
            return None
        sid = int(description[len(_TAG):].split("|", 1)[0])
        return self.spans[sid] if sid < len(self.spans) else None

    def reset(self) -> None:
        self.spans = []

    # --- wrapping -------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def wrap_writes(self) -> None:
        """Wrap ``DataFrameWriter.parquet``; a write to a labelled output
        dir opens a span with that label, others pass through."""
        orig = DataFrameWriter.parquet

        @functools.wraps(orig)
        def traced(writer, path, *args, **kwargs):
            label = self.write_labels.get(os.path.normpath(str(path)))
            if label is None:
                return orig(writer, path, *args, **kwargs)
            with self.span(label):
                return orig(writer, path, *args, **kwargs)

        self.patch(DataFrameWriter, "parquet", traced)

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unpatch``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
