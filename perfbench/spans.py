"""Spans for the traced benchmark run, and a reader for the span file.

A span is one timed call into a layer: name, start, end (seconds since
the run started), its parent span and the run id, plus counters in
``attrs``.  Spans are kept in memory and written as JSON lines when the
run ends.  Read a span file back with

    python3 perfbench/spans.py .perfbench_out/spans-analytics-seed1.jsonl

which prints, per span name, the count, total time and self time (the
span minus its child spans) and the summed counters.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def table(spans: list[dict]) -> list[str]:
    selft = self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"n": 0, "total": 0.0, "self": 0.0, "attrs": defaultdict(float)})
        r["n"] += 1
        r["total"] += s["end"] - s["start"]
        r["self"] += selft[s["id"]]
        for k, v in s["attrs"].items():
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                r["attrs"][k] += v
    lines = [f"{'span':<28} {'count':>6} {'total_s':>10} {'self_s':>10}  counters"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["total"]):
        counters = " ".join(f"{k}={v:g}" for k, v in sorted(r["attrs"].items()))
        lines.append(f"{name:<28} {r['n']:>6} {r['total']:>10.3f} {r['self']:>10.3f}  {counters}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python3 perfbench/spans.py SPANS.jsonl", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    for run in sorted({s["run"] for s in spans}):
        print(f"run {run}")
        print("\n".join(table([s for s in spans if s["run"] == run])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
