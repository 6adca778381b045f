"""Span recorder and Spark event-log attribution for the traced run.

A span is (name, start, end, parent, run id). Spans live in memory and are
written out once, as JSON lines, when the benchmark ends. A span's self time
is its duration minus the time its child spans cover.

Every span may also open a Spark job group ``fp:<name>``. When such a span
closes, it takes the jobs of its group and their failed tasks from the live
session's status tracker. After the traced session stops,
:func:`group_metrics` attributes the event log's task metrics to the groups
with ``bench._parse_fingerprints`` (the repository's one event-log parser).
"""

from __future__ import annotations

import contextlib
import json
import time


def group_jobs(sc, group: str) -> tuple[int, int]:
    """(jobs, failed tasks) run so far under job group ``group``, from the
    status tracker once the listener bus has caught up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
    failed = sum(info.numFailedTasks for s in stages if (info := st.getStageInfo(s)))
    return len(jobs), failed


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        """Time the block as span ``name``; with ``spark``, its jobs also run
        under job group ``fp:<name>`` (the enclosing group is restored after)."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.records),
            "name": name,
            "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "start": time.monotonic(),
            "end": None,
            "group": f"fp:{name}" if spark is not None else (parent or {}).get("group"),
        }
        if spark is not None:
            if any(r["group"] == rec["group"] for r in self.records):
                raise ValueError(f"span {name!r} would reuse job group {rec['group']}")
            spark.sparkContext.setJobGroup(rec["group"], name)
        self.records.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if spark is not None:
                prev = (parent or {}).get("group") or ""
                spark.sparkContext.setJobGroup(prev, prev)
                rec["jobs"], rec["failed_tasks"] = group_jobs(spark.sparkContext, rec["group"])

    def duration(self, name: str) -> float:
        """Total wall of the spans called ``name``."""
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def self_time(self, rec: dict) -> float:
        kids = [r for r in self.records if r["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps({**r, "self_s": round(self.self_time(r), 6)}) + "\n")


def group_metrics(evdir: str, app_id: str, spans: Spans) -> dict[str, dict]:
    """Per job group: task metrics from ``bench._parse_fingerprints`` plus
    ``jobs`` and ``failed_tasks`` of the span that opened the group."""
    import bench

    totals = bench._parse_fingerprints(evdir, app_id)
    for r in spans.records:
        if "jobs" in r:
            t = totals.setdefault(r["name"], {})
            t["jobs"], t["failed_tasks"] = r["jobs"], r["failed_tasks"]
    return totals


def shuffle_mb(group: dict) -> float:
    """Shuffle bytes written + read by one job group, in MB."""
    return (group.get("shuffle_write_bytes", 0) + group.get("shuffle_read_bytes", 0)) / 1e6


def engine_totals(groups: dict[str, dict]) -> dict[str, float]:
    """``spark.failed_tasks`` and ``spark.spill_mb`` over every group."""
    return {
        "spark.failed_tasks": sum(g.get("failed_tasks", 0) for g in groups.values()),
        "spark.spill_mb": sum(g.get("spill_disk_bytes", 0) for g in groups.values()) / 1e6,
    }
