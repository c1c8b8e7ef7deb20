"""Stage metrics from the Spark driver's monitoring REST API.

Each benchmark pass runs under its own job group; ``group_stages`` returns
the completed stages of that group's jobs, as the application status store
reports them at ``{uiWebUrl}/api/v1/applications/<id>/``.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request

# how long a finished group's jobs may take to show as finished
GROUP_TIMEOUT_S = 15.0


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is disabled; the traced run needs its REST API")
        # the UI binds every interface; talk to it over loopback
        port = urllib.parse.urlsplit(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as resp:
            return json.load(resp)

    def group_stages(self, group: str) -> list[dict]:
        """Completed stages of every job in ``group``. The status store is fed
        by an asynchronous listener, so poll until each job has finished."""
        deadline = time.monotonic() + GROUP_TIMEOUT_S
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {group!r} did not finish in the status store")
            time.sleep(0.1)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for attempt in self._get(f"/stages/{sid}"):
                if attempt["status"] == "COMPLETE":
                    stages.append(attempt)
        return stages

    def driver_peak_memory(self) -> dict[str, int]:
        """Peak memory metrics, in bytes, of the driver's executor: the only
        one under a local master."""
        for e in self._get("/executors"):
            if e["id"] == "driver":
                return e["peakMemoryMetrics"]
        raise RuntimeError("the status store lists no driver executor")

    def task_run_quantiles(self, stage: dict) -> tuple[float, float]:
        """(median, max) task executor run time of one stage attempt, in ms."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return float(med), float(mx)
