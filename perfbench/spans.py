"""Spans timed from the benchmark's own code, folded with Spark's event log.

A traced run wraps each call into a layer's public function in
``Tracer.span(name)``.  The span sets the Spark job description to its name,
so every job, stage and task the call launches is tagged with it in the
event log.  ``fold_event_log`` then sums Spark's own task metrics and SQL
metrics per description.  Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...): bytes crossing the JVM/Python
# boundary in each direction.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
SCAN_ROWS = "number of output rows"

SPAN_FIELDS = ("wall_s", "cpu_s", "py_bytes", "shuffle_bytes", "jobs", "tasks")


class Tracer:
    """Records named, non-overlapping spans in memory.

    ``spark`` is optional so the tracer can be exercised without a session;
    with one, each span also becomes the job description of the jobs it runs.
    """

    def __init__(self, spark=None) -> None:
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[tuple[str, float]] = []

    @contextmanager
    def span(self, name: str):
        if self._sc is not None:
            self._sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, time.perf_counter() - t0))
            if self._sc is not None:
                self._sc.setJobDescription(None)

    def walls(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, wall in self.spans:
            out[name] = out.get(name, 0.0) + wall
        return out


def _new_span() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "py_bytes": 0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "scan_rows": 0,
        "scan_nodes": 0,
    }


def _plan_scan_ids(plan: dict, ids: set[int], marker: str) -> None:
    """Collect the accumulator ids of SCAN_ROWS on scan nodes whose plan
    string mentions ``marker`` (the scanned table's directory name)."""
    text = plan.get("simpleString", "") + json.dumps(plan.get("metadata", {}))
    if plan.get("nodeName", "").startswith("Scan") and marker in text:
        for m in plan.get("metrics", []):
            if m.get("name") == SCAN_ROWS:
                ids.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _plan_scan_ids(child, ids, marker)


def fold_event_log(path: str | Path, scan_marker: str = "postings") -> dict[str, dict]:
    """Fold one Spark event log into per-description totals.

    Returns ``{description: {jobs, tasks, cpu_s, gc_s, py_bytes,
    shuffle_bytes, spill_bytes, scan_rows, scan_nodes}}``.  Work launched
    outside any span is filed under ``""``.  ``shuffle_bytes`` counts bytes
    written to shuffle; ``scan_rows`` counts rows output by the scans of the
    table whose directory name is ``scan_marker``, and ``scan_nodes`` the
    scan nodes of that table that ran.
    """
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = {}
    scan_ids: set[int] = set()
    scans_run: dict[str, set[int]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                out.setdefault(desc, _new_span())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_desc[int(sid)] = desc
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                stage_desc.setdefault(int(ev["Stage Info"]["Stage ID"]), desc)
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_scan_ids(ev.get("sparkPlanInfo", {}), scan_ids, scan_marker)
            elif kind == "SparkListenerTaskEnd":
                span = out.setdefault(stage_desc.get(int(ev["Stage ID"]), ""), _new_span())
                span["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                span["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                span["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                span["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                span["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if upd is None:
                        continue
                    if name in (PY_SENT, PY_RETURNED):
                        span["py_bytes"] += int(upd)
                    elif name == SCAN_ROWS and int(acc["ID"]) in scan_ids:
                        span["scan_rows"] += int(upd)
                        desc = stage_desc.get(int(ev["Stage ID"]), "")
                        scans_run.setdefault(desc, set()).add(int(acc["ID"]))
    for desc, ids in scans_run.items():
        out[desc]["scan_nodes"] = len(ids)
    return out


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``min_beyond`` samples
    above it, as ``(percentile, value, sample_count)``.

    Percentiles come from the ladder 50, 75, 90, 95, 99, 99.9 and use the
    nearest-rank definition, so the value is always one of the samples.  With
    too few samples for any rung above the median, the median is returned.
    """
    if not values:
        raise ValueError("tail_percentile needs at least one sample")
    xs = sorted(values)
    n = len(xs)

    def rank(per_mille: int) -> int:  # nearest rank, ceil(n * p), in integers
        return max(1, -(-n * per_mille // 1000))

    best = 500
    for per_mille in (750, 900, 950, 990, 999):
        if n - rank(per_mille) >= min_beyond:
            best = per_mille
    return best / 10, xs[rank(best) - 1], n
