"""Spans around the benchmark's calls into each layer, and the roll-up of
Spark's event log by layer.

Each layer runs under a Spark job group named after it, so the event log
(uncompressed, non-rolling) attributes every job, shuffle write and spill to
the layer that launched it. Spans are kept in memory and written as
JSON once the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from meter import tree_cpu_s

LAYERS = ("sentencize", "tagging", "inference", "checkpoint", "canonicalize", "triples",
          "sink", "dedup", "spans", "training_data")
LAYER_METRICS = (("wall_s", "s"), ("plan_s", "s"), ("cpu_s", "s"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("rows_out", "count"), ("jobs", "count"))
# layer-specific counters and the traced run's totals: (name, unit)
EXTRA_METRICS = (("sentencize.rows_dropped", "count"),
                 ("dedup.candidate_pairs", "count"),
                 ("dedup.pair_yield", "ratio"),
                 ("checkpoint.bytes", "bytes"),
                 ("sink.bytes", "bytes"),
                 ("trace.staged_s", "s"),
                 ("trace.overhead_s", "s"))
_EXTRA = {name for name, _ in EXTRA_METRICS}


class Tracer:
    """Records ``(name, start, end, parent)`` spans plus per-span counters."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span; spans opened inside another one are layers and run their
        Spark jobs under a job group named after the layer."""
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "plan_s": 0.0}
        self._stack.append(rec)
        if parent is not None:
            self.sc.setJobGroup(name, name)
        cpu0 = tree_cpu_s()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if parent is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def call(self, fn, *args, **kwargs):
        """Call a public entry point, adding its own duration to the current
        span's ``plan_s`` (eager jobs run while building a plan count here)."""
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack[-1]["plan_s"] += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)


def rollup_event_log(path: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs launched, shuffle bytes written and bytes spilled
    (memory + disk), from an uncompressed event log. The log may still be
    live: events end up flushed by the time their job ends."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(
        lambda: {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0})
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):  # a live log's event still being written
                break
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = out[group]
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return dict(out)


def layer_metrics(spans: list[dict], rollup: dict[str, dict[str, int]]) -> dict[str, float]:
    """Flatten layer spans and the event-log roll-up into ``<layer>.<metric>``
    values; a layer the workload does not run reports zeros."""
    by_name = {s["name"]: s for s in spans}
    out: dict[str, float] = {name: 0 for name, _ in EXTRA_METRICS}
    for layer in LAYERS:
        s = by_name.get(layer, {})
        r = rollup.get(layer, {})
        out.update({
            f"{layer}.wall_s": s["end"] - s["start"] if s else 0.0,
            f"{layer}.plan_s": s.get("plan_s", 0.0),
            f"{layer}.cpu_s": s.get("cpu_s", 0.0),
            f"{layer}.shuffle_write_bytes": r.get("shuffle_write_bytes", 0),
            f"{layer}.spill_bytes": r.get("spill_bytes", 0),
            f"{layer}.rows_out": s.get("rows_out", 0),
            f"{layer}.jobs": r.get("jobs", 0),
        })
        out.update({f"{layer}.{k}": v for k, v in s.items() if f"{layer}.{k}" in _EXTRA})
    return out
