"""Per-call Spark metrics for the traced run.

Each call runs under its own Spark job group. After the call's timer
has stopped, ``collect`` reads the group's jobs from the status
tracker and their job and stage records from the Spark UI REST API
(on the driver's own host), so the reading never lands inside a
timed interval.

Layer maths:

- ``job_s`` is the length of the *union* of the jobs' [submission,
  completion] intervals. Jobs submitted from AQE or broadcast threads
  overlap the job that waits on them, so summing their durations
  overstates busy time and can make ``gap_s`` negative.
- ``gap_s = wall_s - job_s``: driver time with no job running.
- ``cores_used = task_s / job_s``: summed executor run time of every
  stage the call ran, over the time jobs were running.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

MB = 1024 * 1024


def _ts(s: str) -> float:
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        )
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> dict:
        """Job and stage totals of one call's job group."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = [self._job(i) for i in ids]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        task_ms = shuffle_w = spill = 0
        tasks = 0
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                task_ms += att["executorRunTime"]
                shuffle_w += att["shuffleWriteBytes"]
                spill += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                tasks += att["numCompleteTasks"] + att["numFailedTasks"]
        job_s = union_length(
            [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs]
        )
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "job_s": job_s,
            "task_s": task_ms / 1000.0,
            "shuffle_write_mb": shuffle_w / MB,
            "spill_mb": spill / MB,
        }

    def _job(self, job_id: int) -> dict:
        # the UI store updates asynchronously from the listener bus:
        # wait until the job's end event has been applied
        for _ in range(200):
            j = self._get(f"/jobs/{job_id}")
            if j["status"] != "RUNNING" and "completionTime" in j:
                return j
            time.sleep(0.02)
        raise RuntimeError(f"job {job_id} did not complete in the UI store")
