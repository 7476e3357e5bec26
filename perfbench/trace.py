"""In-memory spans for the traced run.

A span is recorded around each call the benchmark makes into a layer:
name, start, end, parent span and run id. While a span is open its name
is also set as the Spark local property ``perfbench.span``, so every
Spark job it submits carries the name into the event log, where
``eventlog`` attributes stages back to spans. Spans are written out
once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import time

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Records spans; ``Tracer(None)`` is switched off and records nothing."""

    def __init__(self, run_id: str | None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Tag the Spark jobs submitted inside spans from now on."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if self.run_id is None:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        prior = None
        if self._sc is not None:
            prior = self._sc.getLocalProperty(SPAN_PROPERTY)
            self._sc.setLocalProperty(SPAN_PROPERTY, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._open.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(SPAN_PROPERTY, prior)

    def duration(self, name: str) -> float:
        """Duration of the last closed span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name and "dur_s" in rec:
                return rec["dur_s"]
        raise KeyError(name)

    def closed_spans(self) -> list[dict]:
        """The spans, each with ``self_s``: its duration minus the time
        its direct children cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["dur_s"]
        return [{**s, "self_s": s["dur_s"] - kids.get(s["id"], 0.0)} for s in self.spans]
