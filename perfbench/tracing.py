"""Benchmark-side spans and counters around calls into the program's layers.

Spans are recorded from the benchmark's own code (the program carries no
spans yet): name, start, end, parent span and the run id of the pass they
belong to.  They stay in memory and are written out once, at exit.  A
disabled tracer records nothing, so untraced passes pay only a context
manager per layer call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = ""
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def durations(self, name: str, run_prefix: str = "") -> list[float]:
        """Durations of every finished ``name`` span whose run id starts
        with ``run_prefix``."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["run"].startswith(run_prefix)
        ]

    def per_run(self, name: str, run_prefix: str = "") -> list[float]:
        """Summed ``name`` span time per run id, in run order."""
        acc: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None and s["run"].startswith(run_prefix):
                acc[s["run"]] = acc.get(s["run"], 0.0) + s["end"] - s["start"]
        return list(acc.values())

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total time and self time (the span's duration
        minus the union of its children's intervals)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            agg = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "calls": 0})
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["end"] - s["start"] - covered
            agg["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "counts": dict(self.counts), "layers": self.self_times()},
                fh,
            )
