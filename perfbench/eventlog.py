"""Decompose a traced run with the Spark event log.

Jobs are attributed to spans through the job group each span sets
(``pb-<span id>``); tasks to jobs through the stage ids a job lists when it
starts. For every span this gives the time its jobs ran (the union of
their intervals) and, by difference from the span's self time, the driver
gap: planning, scheduling and Python between jobs. Task metrics add CPU,
GC, shuffle-write and spill volumes. The parsing follows the same
JobStart/JobEnd pairing as the repository's job-timeline tool.
"""

from __future__ import annotations

import json
from pathlib import Path

from harness import self_times, union_length

_MB = 1024.0 * 1024.0


def _events(log_dir: Path):
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJob' in line or '"SparkListenerTaskEnd"' in line:
                    yield json.loads(line)


def read_jobs(log_dir: Path) -> list[dict]:
    """One record per finished job: span id, interval (s) and the summed
    metrics of its tasks."""
    starts: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            span = int(group[3:]) if group.startswith("pb-") else None
            starts[jid] = {"span": span, "t0": ev["Submission Time"] / 1000.0,
                           "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            rec = starts.get(ev["Job ID"])
            if rec is not None:
                rec["t1"] = ev["Completion Time"] / 1000.0
                jobs[ev["Job ID"]] = rec
        else:
            rec = starts.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if rec is None or not m:
                continue
            rec["tasks"] += 1
            rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            shuffle = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / _MB
            rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / _MB
    return [j for j in jobs.values() if "t1" in j]


def decompose(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span: self time, time inside its own jobs, driver gap and task
    metrics of its own jobs (children's jobs are theirs), plus the same
    totals over the span's whole subtree under ``incl_*`` keys."""
    own: dict[int, list[dict]] = {}
    for j in jobs:
        if j["span"] is not None:
            own.setdefault(j["span"], []).append(j)
    selfs = self_times(spans)
    out: dict[int, dict] = {}
    for s in spans:
        mine = own.get(s["id"], [])
        in_jobs = union_length([(j["t0"], j["t1"]) for j in mine])
        out[s["id"]] = {
            "self_s": selfs[s["id"]],
            "jobs": len(mine),
            "in_jobs_s": in_jobs,
            "driver_gap_s": max(0.0, selfs[s["id"]] - in_jobs),
            **{k: sum(j[k] for j in mine)
               for k in ("tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")},
        }
    # roll children up into inclusive totals (children have higher ids)
    for s in spans:
        out[s["id"]].update({f"incl_{k}": v for k, v in list(out[s["id"]].items())
                             if k != "self_s"})
    for s in reversed(spans):
        if s["parent"] is not None:
            p, c = out[s["parent"]], out[s["id"]]
            for k in ("jobs", "in_jobs_s", "driver_gap_s", "tasks", "cpu_s",
                      "gc_s", "shuffle_write_mb", "spill_mb"):
                p[f"incl_{k}"] += c[f"incl_{k}"]
    return out
