"""In-memory span recorder for the traced run.

A span records its name, layer, start, end, parent span and run id.
Spans stay in memory and are written out once, when the run ends.  A
layer's self time is the time its spans cover minus the part of that
time their child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans; when disabled, ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Self time per layer in ms.  Children of one span never overlap
        (spans nest on one thread), so a child's duration is the part of
        its parent it covers."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                ) * 1000.0
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                own = (s["end"] - s["start"]) * 1000.0 - child_ms.get(s["id"], 0.0)
                out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
