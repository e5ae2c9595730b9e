"""Spark event-log reading and job attribution.

Jobs are attributed to benchmark operations by time: a job belongs to
the operation whose wall interval contains the job's submission time.
Job groups cannot do this alone, because the engine runs part of its
work on its own thread pools, whose jobs do not inherit the caller's
group. Where several clients run at once, each client sets its own job
group and attribution also requires the group to match.
"""

from __future__ import annotations

import glob
import json
import os


def event_log_conf(log_dir: str) -> str:
    """spark-submit options that write an uncompressed, unrolled event
    log into ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false")


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per finished job: id, group, start/end (epoch s) and
    summed stage/task metrics."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p) and not p.endswith(".crc")
                   and not os.path.basename(p).startswith(("appstatus",
                                                           ".")))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid, "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0, "end": None,
                        "stages": 0, "tasks": 0, "input_bytes": 0,
                        "shuffle_bytes": 0, "output_rows": 0,
                        "task_s": 0.0, "gc_s": 0.0}
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    j = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
                    if j is not None:
                        j["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j["tasks"] += 1
                    j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    j["shuffle_bytes"] += \
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    j["output_rows"] += m["Output Metrics"]["Records Written"]
                    j["task_s"] += m["Executor Run Time"] / 1000.0
                    j["gc_s"] += m["JVM GC Time"] / 1000.0
    return [j for j in jobs.values() if j["end"] is not None]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Add Spark counters to each span in place. ``group`` on a span
    restricts its jobs to that job group."""
    for s in spans:
        mine = [j for j in jobs
                if s["start"] <= j["start"] <= s["end"]
                and (s.get("group") is None or j["group"] == s["group"])]
        busy = _union_s([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                         for j in mine if j["end"] > s["start"]])
        s["spark_jobs"] = len(mine)
        s["spark_job_busy_s"] = busy
        s["driver_gap_s"] = max(0.0, s["wall_s"] - busy)
        for k in ("stages", "tasks", "input_bytes", "shuffle_bytes",
                  "output_rows", "task_s", "gc_s"):
            s[f"spark_{k}"] = sum(j[k] for j in mine)
