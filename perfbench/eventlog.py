"""Per-job-group engine metrics from a Spark event log.

The traced run starts Spark with an uncompressed, non-rolling event log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``:
the default zstd rolling format needs a codec Python does not have here)
and sets the job group to the innermost open span before every call, so
each job and stage carries ``spark.jobGroup.id`` in its properties.

Python-UDF cost is split as in *Accelerating Python UDFs in Vectorized
Query Execution* (CIDR 2022): bytes moved to and from the workers, and
time spent starting and running them. Those come from the SQL metrics
that PySpark's Python exec nodes publish as stage accumulables.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

#: stage accumulable name -> (metric, scale to the reported unit)
STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_returned_bytes", 1),
}

ENGINE_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "python_run_s", "python_start_s",
    "python_sent_bytes", "python_returned_bytes",
)

GROUP_KEY = "spark.jobGroup.id"


def read_events(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def empty_metrics() -> dict[str, float]:
    return {m: 0 for m in ENGINE_METRICS}


def group_metrics(events: Iterable[dict]) -> dict[str, dict[str, float]]:
    """job-group id -> engine metrics (ENGINE_METRICS). Jobs are counted
    by their start event; a stage is attributed to the group in its
    submission properties, falling back to the group of the job that
    listed it, and is counted once per completed attempt. Work outside
    any group is reported under the key None."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            out.setdefault(group, empty_metrics())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if GROUP_KEY in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props[GROUP_KEY]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            m = out.setdefault(group, empty_metrics())
            m["stages"] += 1
            m["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                spec = STAGE_ACCUMULABLES.get(acc.get("Name"))
                if spec is not None:
                    name, scale = spec
                    m[name] += float(acc["Value"]) * scale
    return out


def merge(metrics: Iterable[dict[str, float]]) -> dict[str, float]:
    total = empty_metrics()
    for m in metrics:
        for k in ENGINE_METRICS:
            total[k] += m.get(k, 0)
    return total
