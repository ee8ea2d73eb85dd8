"""Stage and task metrics from Spark's status REST API.

Reads ``<uiWebUrl>/api/v1/applications/<app>/...`` for the jobs of one
job group (set with ``SparkContext.setJobGroup`` around the traced
passes). The UI of a local session listens on localhost only.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class StageStats:
    stage_id: int
    wall_s: float
    task_run_s: list[float] = field(default_factory=list)
    task_records_in: list[int] = field(default_factory=list)
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    # e.g. "2026-10-16T18:26:12.599GMT"
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def group_stages(sc, job_group: str) -> list[list[StageStats]]:
    """Completed stages of every job in ``job_group``, one list per job,
    jobs in submission order."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") == job_group]
    jobs.sort(key=lambda j: j["jobId"])
    out: list[list[StageStats]] = []
    for job in jobs:
        stages: list[StageStats] = []
        for sid in sorted(job["stageIds"]):
            for attempt in _get(f"{base}/stages/{sid}?details=true"):
                if attempt.get("status") != "COMPLETE":
                    continue  # skipped stages reuse shuffle output: no tasks
                st = StageStats(
                    stage_id=sid,
                    wall_s=_ts(attempt["completionTime"]) - _ts(attempt["submissionTime"]),
                    shuffle_write_bytes=int(attempt.get("shuffleWriteBytes", 0)),
                    output_bytes=int(attempt.get("outputBytes", 0)),
                )
                for task in attempt.get("tasks", {}).values():
                    m = task.get("taskMetrics") or {}
                    st.task_run_s.append(m.get("executorRunTime", 0) / 1000.0)
                    st.task_records_in.append(
                        int((m.get("inputMetrics") or {}).get("recordsRead", 0))
                        + int((m.get("shuffleReadMetrics") or {}).get("recordsRead", 0))
                    )
                stages.append(st)
        out.append(stages)
    return out
