"""Per-job-group totals from an uncompressed Spark event log.

The traced run tags every call it makes with ``setJobGroup(<layer>)``; this
module folds the log's job, stage and task events back onto those tags. The
accumulator names and the stage-interval union follow
``tools/analyze_eventlog.py``.
"""

from __future__ import annotations

import json
from collections import defaultdict

ACC = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
}
GROUP = "spark.jobGroup.id"


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get(GROUP)


def parse(path: str) -> dict[str, dict]:
    """-> {job group: {jobs, stages, tasks, shuffle_bytes, spill_mem_bytes,
    spill_disk_bytes, intervals}}.

    ``intervals`` are the (submit, complete) millis of every stage that ran
    in the group. Stages that AQE skipped never complete and are not
    counted; a stage counts once, under the group that submitted it."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = _group(e)
                if g is not None:
                    groups[g]["jobs"] += 1
            elif ev == "SparkListenerStageSubmitted":
                g = _group(e)
                if g is not None:
                    stage_group[e["Stage Info"]["Stage ID"]] = g
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                g = stage_group.get(si["Stage ID"])
                if g is None or "Completion Time" not in si:
                    continue
                groups[g]["stages"] += 1
                groups[g].setdefault("intervals", []).append(
                    (si["Submission Time"], si["Completion Time"])
                )
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                if g is None:
                    continue
                groups[g]["tasks"] += 1
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    k = ACC.get(a.get("Name"))
                    if k:
                        groups[g][k] += a.get("Update", 0)
    return {g: dict(v) for g, v in groups.items()}


def covered_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of (start, end) millis intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3
