"""Span recorder for the traced run.

A span is one call into a package layer, recorded from the benchmark's
own code: name, start, end, parent span and run id. Spans stay in memory
and are written once, when the run ends. While a span is open, Spark
jobs carry ``span:<id>`` as their job description, so the event log
(enabled only for traced runs) attributes task time, shuffle bytes and
GC to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans only when the run is traced; otherwise ``span`` is a
    no-op, so the untraced runs time the same code."""

    def __init__(self, run_id: str, bench):
        self.run_id = run_id
        self.bench = bench  # its session, once started, labels the jobs
        self.enabled = bench.trace
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0, "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(f"span:{sid}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._describe(
                None if parent is None else f"span:{parent}:{self.spans[parent]['name']}")

    def _describe(self, text: str | None) -> None:
        if self.bench.spark is not None:
            self.bench.spark.sparkContext.setJobDescription(text)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by child spans (children run
        one after another, so their durations add)."""
        kids = sum(self.duration(s) for s in self.spans if s["parent"] == rec["id"])
        return self.duration(rec) - kids

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, rec: dict) -> list[dict]:
        out, frontier = [rec], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [s["id"] for s in kids]
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self"] = self.self_time(s)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      f, indent=1, sort_keys=True, default=str)


def event_log_by_span(eventlog_dir: str) -> dict[int, dict]:
    """Per span id: summed executor run time (s), JVM GC time (s),
    shuffle bytes written and task count, from the Spark event log.
    Jobs are matched to spans through their ``span:<id>:`` description."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "tasks": 0})
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith("span:"):
                        sid = int(desc.split(":")[1])
                        for st in ev.get("Stage IDs", []):
                            stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    acc = out[sid]
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["tasks"] += 1
    return dict(out)
