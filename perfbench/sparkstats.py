"""Per-operation Spark job/stage/SQL metrics from the status REST API.

One collector serves every workload. An operation's jobs are picked by a
predicate on the job record (its job group, or the streaming batch it
belongs to); the job group is set before the timed region starts.

Each stage is counted once per operation and only its latest attempt is
summed, so a retried stage is not billed twice. A stage id listed by more
than one of the operation's jobs (a shuffle map stage reused by a later
job) is a shared stage: it is summed once and counted in
`shared_stages`. A stage already billed to an earlier operation (reused
across operations) is not billed again.

The Python-boundary numbers come from the SQL metrics of the plan nodes
that cross into Python workers (`MapInPandas`, Python data source scans):
bytes sent to and returned from the workers and rows they return. A SQL
execution belongs to the operation when it ran one of its jobs or was
submitted inside its wall-clock window (a streaming micro-batch's own
execution runs no job: the `foreachBatch` body's nested executions do).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime, timezone

from tracer import union_length

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_NODE = re.compile(r"MapInPandas|MapInArrow|PythonDataSource|Python", re.I)


def parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _metric_total(value: str) -> float:
    """SQL metric text -> number: `1.2 MiB`, `4,096`, or the aggregated
    `total (min, med, max ...)\\n1.2 MiB (...)` form (first figure)."""
    text = value.split("\n")[-1] if value.startswith("total") else value
    m = re.match(r"\s*([\d,\.]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE.get(m.group(2) or "B", 1)


class StageMetrics:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.app = sc.applicationId
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.app}"
        self.billed: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def _jobs(self, match, deadline: float) -> list[dict]:
        """The operation's jobs, once the status store shows them all
        finished (its listener runs behind the scheduler, so it gets a
        moment to record jobs that just ended)."""
        time.sleep(0.1)
        while True:
            jobs = [j for j in self._get("jobs") if match(j)]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                return jobs
            time.sleep(0.05)

    def collect(self, match, wall: tuple[float, float]) -> dict[str, float]:
        """Metrics of the jobs `match` accepts; `wall` is the operation's
        (start, end) in epoch seconds, for the driver-only time."""
        deadline = time.monotonic() + 10
        jobs = self._jobs(match, deadline)
        stage_refs: dict[int, int] = {}
        for j in jobs:
            for sid in j.get("stageIds", []):
                stage_refs[sid] = stage_refs.get(sid, 0) + 1
        latest: dict[int, dict] = {}
        for sid in stage_refs:
            if sid in self.billed:
                continue
            attempts = self._get(f"stages/{sid}?details=false")
            done = [a for a in attempts if a.get("status") != "SKIPPED"]
            if done:
                latest[sid] = max(done, key=lambda a: a.get("attemptId", 0))
        self.billed.update(latest)
        intervals = []
        for j in jobs:
            a, b = parse_ts(j.get("submissionTime")), parse_ts(j.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((max(a, wall[0]), min(b, wall[1])))
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(latest)),
            "shared_stages": float(sum(1 for s in latest if stage_refs[s] > 1)),
            "tasks": float(sum(a.get("numCompleteTasks", 0) for a in latest.values())),
            "executor_run_ms": float(sum(a.get("executorRunTime", 0) for a in latest.values())),
            "executor_cpu_ms": sum(a.get("executorCpuTime", 0) for a in latest.values()) / 1e6,
            "shuffle_write_bytes": float(
                sum(a.get("shuffleWriteBytes", 0) for a in latest.values())
            ),
            "driver_only_ms": 1000.0 * max(0.0, (wall[1] - wall[0]) - union_length(intervals)),
        }
        out.update(self._python_boundary({j["jobId"] for j in jobs}, wall))
        return out

    def _python_boundary(self, job_ids: set[int], wall: tuple[float, float]) -> dict[str, float]:
        sent = received = rows = 0.0
        if job_ids:
            for ex in self._get("sql?details=true&planDescription=false&length=100000"):
                ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
                submitted = parse_ts(ex.get("submissionTime")) or 0.0
                if not (ex_jobs & job_ids or wall[0] <= submitted <= wall[1]):
                    continue
                for node in ex.get("nodes", []):
                    if not _PY_NODE.search(node.get("nodeName", "")):
                        continue
                    for m in node.get("metrics", []):
                        name = m.get("name", "")
                        if name == "data sent to Python workers":
                            sent += _metric_total(m["value"])
                        elif name == "data returned from Python workers":
                            received += _metric_total(m["value"])
                        elif name == "number of output rows":
                            rows += _metric_total(m["value"])
        return {
            "python_bytes_sent": sent,
            "python_bytes_received": received,
            "python_rows_received": rows,
        }
