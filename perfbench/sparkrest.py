"""Stage metrics from the Spark REST status API, attributed to spans.

Every traced span sets its own Spark job group (its span id), so a job's
``jobGroup`` names the span it ran under and the job's stages belong to
that span.  The attribution and aggregation helpers take the decoded
JSON lists and need no Spark.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime

from tracing import union_length


def parse_ts(s: str) -> float:
    """'2026-10-17T03:29:25.870GMT' -> epoch seconds."""
    return datetime.strptime(
        s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class SparkRest:
    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, timeout: float = 30.0) -> tuple:
        """(jobs, complete stages) once the listener has caught up: no job
        is running and two reads 0.3 s apart agree."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = self.get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and not any(j["status"] == "RUNNING" for j in jobs):
                break
            if time.time() > deadline:
                raise TimeoutError("Spark status store did not settle")
            prev = key
            time.sleep(0.3)
        stages = self.get("/stages?status=complete")
        return jobs, stages

    def task_run_quantiles(self, stage: dict) -> list:
        """[median, max] executor run time (ms) of the stage's tasks."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        return q["executorRunTime"]


def stages_by_group(jobs: list, stages: list) -> dict:
    """job group -> its jobs' complete stages (a stage shared by several
    jobs counts for the first)."""
    by_id = {(s["stageId"]): s for s in stages}
    seen, out = set(), {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup")
        for sid in j["stageIds"]:
            if sid in by_id and sid not in seen:
                seen.add(sid)
                out.setdefault(group, []).append(by_id[sid])
    return out


def annotate(spans: list, by_group: dict, njobs: dict) -> None:
    """Record each span's own jobs and stage totals in its attrs, for the
    trace file."""
    for s in spans:
        if s.span_id in njobs:
            s.attrs["spark"] = {
                "jobs": njobs[s.span_id], **totals(by_group.get(s.span_id, []))
            }


def jobs_by_group(jobs: list) -> dict:
    out: dict = {}
    for j in jobs:
        out[j.get("jobGroup")] = out.get(j.get("jobGroup"), 0) + 1
    return out


def stage_interval(s: dict) -> tuple:
    return parse_ts(s["submissionTime"]), parse_ts(s["completionTime"])


def totals(stages: list) -> dict:
    """Executor-side sums over a set of stages."""
    return {
        "stages": len(stages),
        "single_task_stages": sum(1 for s in stages if s["numTasks"] == 1),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "input_bytes": sum(s["inputBytes"] for s in stages),
        "output_bytes": sum(s["outputBytes"] for s in stages),
    }


def driver_gap(start: float, end: float, stages: list) -> float:
    """Wall time in [start, end] during which no stage was running."""
    covered = union_length(
        (max(a, start), min(b, end))
        for a, b in map(stage_interval, stages)
        if b > start and a < end
    )
    return (end - start) - covered


def engine_metrics(ops, all_stages, njobs, spans, nproc) -> dict:
    """Engine figures over the traced ops: every span lies inside one."""
    ids = {s.span_id for s in spans}
    tot = totals(all_stages)
    op_wall = sum(o.wall for o in ops)
    return {
        "spark.jobs": sum(n for g, n in njobs.items() if g in ids),
        "spark.stages": tot["stages"],
        "spark.single_task_stages": tot["single_task_stages"],
        "spark.driver_gap_s": sum(
            driver_gap(o.start, o.end, all_stages) for o in ops
        ),
        "spark.executor_busy_share": tot["executor_run_s"] / (op_wall * nproc),
        "spark.executor_cpu_s": tot["executor_cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
    }
