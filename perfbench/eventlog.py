"""Spark event-log parser: job group → stages → task and SQL metrics.

The benchmark sets a job group (``SparkContext.setJobGroup``) around
every call it times, and turns the event log on in traced runs. This
module folds the log back into one :class:`GroupStats` per job group,
so each span gets the task-side work Spark did on its behalf.

Only four event types are read: ``SparkListenerJobStart`` (job →
group, via the ``spark.jobGroup.id`` property, and job → stage ids),
``SparkListenerJobEnd``, ``SparkListenerStageCompleted`` (skipped
stages never complete) and ``SparkListenerTaskEnd`` (task metrics,
plus per-task SQL metric updates carried as ``"Metadata": "sql"``
accumulables, e.g. ``data sent to Python workers`` of an
ArrowEvalPython node). Everything else is ignored, so a log trimmed to
those events parses the same.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0                 # summed executor run time
    task_ms_max: int = 0             # longest task, launch → finish
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0             # disk bytes spilled
    sql: dict = field(default_factory=lambda: defaultdict(int))


def find_log(log_dir: str) -> str:
    """The single finished (or in-progress) event log under ``log_dir``."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse(path: str) -> dict[str | None, GroupStats]:
    """Fold an uncompressed, non-rolling JSON-lines event log into
    per-job-group stats. Jobs without a group land under ``None``."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                out[job_group.get(ev["Job ID"])].jobs += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out[stage_group.get(sid)].stages += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(out[stage_group.get(ev["Stage ID"])], ev)
    return dict(out)


def _add_task(g: GroupStats, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    g.tasks += 1
    g.task_ms += int(m.get("Executor Run Time", 0))
    g.task_ms_max = max(g.task_ms_max,
                        int(info["Finish Time"]) - int(info["Launch Time"]))
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    g.shuffle_read_bytes += (int(sr.get("Remote Bytes Read", 0))
                             + int(sr.get("Local Bytes Read", 0)))
    g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    for acc in info.get("Accumulables") or ():
        if acc.get("Metadata") == "sql" and "Update" in acc:
            g.sql[acc["Name"]] += int(acc["Update"])

