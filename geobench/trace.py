"""In-memory spans for the traced run.

A span is {"id", "parent", "name", "start", "end", "attrs"} with epoch
seconds, so Python spans line up with the Spark job and stage spans the
harvester adds from the status store. Spans of one operation carry the
same ``op`` attribute. Nothing is written until ``dump``.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class NullTracer:
    """Untraced runs: the same calls, no records."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


def _kind(name: str) -> str:
    """Span name without trailing numeric ids (spark.job.12 -> spark.job)."""
    return re.sub(r"(\.\d+)+$", "", name)


def self_times(spans: List[dict]) -> Dict[str, float]:
    """Seconds per span kind not covered by the span's own children."""
    kids: Dict[Optional[int], List[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: Dict[str, float] = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        k = _kind(s["name"])
        out[k] = out.get(k, 0.0) + (s["end"] - s["start"]) - covered
    return {k: round(v, 6) for k, v in sorted(out.items())}


def dump(path: str, header: dict, spans: List[dict]) -> None:
    doc = dict(header)
    doc["spans"] = spans
    doc["self_time_s"] = self_times(spans)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
