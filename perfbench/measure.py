"""Measurement primitives shared by the workloads.

Pure functions and small in-memory recorders, kept free of Spark imports so
the unit tests exercise them without a session:

* ``tail_percentile`` — the reporting rule: a timing is given as its median
  plus the highest percentile that still has at least ten samples beyond it.
* ``commit_latencies`` — maps landed files to the micro-batches that
  committed them by cumulative input rows (the file source admits files
  oldest first, so the k-th file is committed by the first batch whose
  cumulative ``numInputRows`` covers it).
* ``parse_event_log`` — per-job-group totals from a Spark event log.
* ``Tracer`` — spans (name, start, end, parent, run id) kept in memory and
  written once at the end.
"""

from __future__ import annotations

import itertools
import json
import math
import time
from collections import defaultdict
from contextlib import contextmanager

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(pct: float, n: int) -> int:
    """1-based nearest-rank position of ``pct`` in ``n`` sorted samples (the
    rounding keeps e.g. 99.9% of 10,000 at exactly 9,990)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest candidate percentile that leaves at
    least ``MIN_BEYOND`` samples above its nearest-rank position, or None when
    the sample is too small for any."""
    ordered = sorted(values)
    n = len(ordered)
    for pct in TAIL_CANDIDATES:
        if n - _rank(pct, n) >= MIN_BEYOND:
            return pct, nearest_rank(ordered, pct)
    return None


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def commit_latencies(
    scheduled: list[float],
    rows_per_file: list[int],
    batches: list[tuple[float, int]],
    skip_rows: int = 0,
) -> list[float | None]:
    """Latency of each landed file: end of its committing batch minus the
    time the file was *scheduled* to land.

    ``batches`` holds (end_time, numInputRows) in batch order; the first
    ``skip_rows`` committed rows belong to files landed before the schedule
    (warm-up) and are not attributed.  A file not yet covered by any batch
    gets None."""
    latencies: list[float | None] = []
    ends = iter(batches)
    covered = -skip_rows
    end_time: float | None = None
    needed = 0
    for due, rows in zip(scheduled, rows_per_file):
        needed += rows
        while covered < needed:
            batch = next(ends, None)
            if batch is None:
                end_time = None
                break
            end_time, n = batch
            covered += n
        latencies.append(None if covered < needed else end_time - due)
    return latencies


# --------------------------------------------------------------------------
# Spark event log.

_GROUP_KEY = "spark.jobGroup.id"


def _empty_totals() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
        "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }


def parse_event_log(path: str) -> dict[str, dict]:
    """Totals per job group: jobs, completed stages, finished tasks, executor
    CPU/run/GC seconds, shuffle bytes read and written, and spill bytes
    (memory + disk).  Work outside any job group is keyed by ``""``.

    Reads the uncompressed, non-rolling JSON-lines log Spark writes with
    ``spark.eventLog.enabled``."""
    totals: dict[str, dict] = defaultdict(_empty_totals)
    stage_group: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get(_GROUP_KEY) or ""
                totals[group]["jobs"] += 1
                for stage_id in event.get("Stage IDs", []):
                    stage_group.setdefault(stage_id, group)
            elif kind == "SparkListenerStageSubmitted":
                group = (event.get("Properties") or {}).get(_GROUP_KEY)
                if group is not None:
                    stage_group[event["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                stage_id = event["Stage Info"]["Stage ID"]
                totals[stage_group.get(stage_id, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                metrics = event.get("Task Metrics")
                t = totals[stage_group.get(event["Stage ID"], "")]
                t["tasks"] += 1
                if not metrics:
                    continue
                t["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
                t["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
                t["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
                t["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
                read = metrics.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                    "Local Bytes Read", 0
                )
                write = metrics.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
    return dict(totals)


def merge_totals(parts: list[dict]) -> dict:
    out = _empty_totals()
    for part in parts:
        for key in out:
            out[key] += part.get(key, 0)
    return out


# --------------------------------------------------------------------------
# Spans.


class Tracer:
    """Spans recorded around calls into each layer.  A disabled tracer still
    yields span ids, so call sites need no branching, but records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append({
                    "id": span_id, "parent": parent, "name": name,
                    "start": start, "end": end, "run": self.run_id, **attrs,
                })

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)
