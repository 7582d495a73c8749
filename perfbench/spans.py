"""Spans recorded around each call into a module, and the Spark stage
metrics of the jobs each span ran.

A span is (id, name, parent, run_id, start, end, counts). Spans live in
memory; a traced run writes them out at its end. While a span is open its jobs carry
the Spark job group ``<run_id>/<span id>``; :func:`stage_metrics` reads
the event log after the session stops and sums each group's tasks.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

SPARK_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_busy_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"),
    ("gc_s", "s"),
    ("task_skew", "ratio"),
)


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}/{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]


def stage_metrics(event_log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Per module (span-name prefix): the spark.* totals of every job
    its spans ran. ``task_skew`` is max/median task time of the worst
    stage with at least two tasks (1.0 if there is none)."""
    span_module = {
        f"{tracer.run_id}/{s['id']}": s["name"].split(".")[0] for s in tracer.spans
    }
    job_module: dict[int, str] = {}
    stage_module: dict[int, str] = {}
    task_times: dict[int, list[int]] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(f"{event_log_dir}/*"):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    mod = span_module.get((e.get("Properties") or {}).get("spark.jobGroup.id"))
                    if mod is None:
                        continue
                    job_module[e["Job ID"]] = mod
                    out.setdefault(mod, dict.fromkeys((m for m, _ in SPARK_METRICS), 0.0))
                    out[mod]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_module[sid] = mod
                elif kind == "SparkListenerTaskEnd":
                    mod = stage_module.get(e["Stage ID"])
                    if mod is None or not e.get("Task Metrics"):
                        continue
                    m, info = e["Task Metrics"], e["Task Info"]
                    acc = out[mod]
                    acc["tasks"] += 1
                    acc["task_busy_s"] += m["Executor Run Time"] / 1000
                    acc["gc_s"] += m["JVM GC Time"] / 1000
                    acc["spill_bytes"] += m["Disk Bytes Spilled"]
                    acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    acc["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                    task_times.setdefault(e["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    for sid, times in task_times.items():
        acc = out[stage_module[sid]]
        acc["stages"] += 1
        if len(times) >= 2:
            med = statistics.median(times)
            acc["task_skew"] = max(acc["task_skew"], max(times) / med if med else 1.0)
    for acc in out.values():
        acc["task_skew"] = acc["task_skew"] or 1.0
    return out
