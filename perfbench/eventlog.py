"""Spark event-log reader: per job group, the jobs, completed stages,
tasks and task metrics.

Groups are named ``<layer>#<call>``; :func:`by_layer` folds calls of
one layer together.  The log is read with stdlib ``json`` only.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "result_bytes",
)


def parse(lines) -> dict[str | None, dict[str, float]]:
    """Aggregate event-log JSON lines per job group (``None`` for jobs
    outside any group)."""
    stage_group: dict[int, str | None] = {}
    agg: dict[str | None, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            agg[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            agg[stage_group.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            a = agg[stage_group.get(ev.get("Stage ID"))]
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            a["tasks"] += 1
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["result_bytes"] += m.get("Result Size", 0)
    return dict(agg)


def parse_path(path: str) -> dict[str | None, dict[str, float]]:
    """Aggregate every event-log file in the directory ``path`` (one
    per application: ``host.launch_env`` turns log rolling off)."""

    def lines():
        for f in sorted(os.listdir(path)):
            if not f.startswith("."):
                with open(os.path.join(path, f), encoding="utf-8") as fh:
                    yield from fh

    return parse(lines())


def by_layer(groups: dict[str | None, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Fold ``<layer>#<call>`` groups into one total per layer; jobs
    outside any benchmark group land under ``"other"``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    for group, a in groups.items():
        layer = group.split("#", 1)[0] if group and "#" in group else "other"
        for k in FIELDS:
            out[layer][k] += a[k]
    return dict(out)
