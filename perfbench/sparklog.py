"""Spark-side collector for traced runs: reads the event log that the traced
session writes and sums task metrics per job description.

The benchmark tags every Spark action it wants measured with
``SparkContext.setJobDescription``; Spark copies the description onto each
job, so tasks are attributed to the query that actually executed (a
``df.write`` re-plans, so the DataFrame's own plan would show zeros). SQL
metrics such as the ``MapInArrow`` node's Python worker times arrive as task
accumulables under their display names.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

#: MapInArrow SQL metric display name → metric suffix
PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}


def event_log_conf(log_dir: Path) -> dict:
    """Session conf that turns the event log on (traced runs only)."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def by_description(events: list[dict]) -> dict[str, dict]:
    """Per job description: wall (first submission → last completion, s),
    task count, executor run / GC ms, shuffle write and spill bytes, the
    slowest task over the median task of the busiest stage, the MapInArrow
    Python metrics, and the ordered
    SQL execution ids."""
    stage_desc: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if desc is None:
                continue
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {"desc": desc, "start": e["Submission Time"], "exec": exec_id}
            for s in e["Stage IDs"]:
                stage_desc[s] = desc
        elif e["Event"] == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]

    out: dict[str, dict] = defaultdict(
        lambda: {
            "tasks": 0,
            "executor_run_ms": 0,
            "gc_ms": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            **{v: 0 for v in PYTHON_METRICS.values()},
            "_stage_ms": defaultdict(list),
        }
    )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_desc:
            continue
        d = out[stage_desc[e["Stage ID"]]]
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        d["tasks"] += 1
        d["executor_run_ms"] += m.get("Executor Run Time", 0)
        d["gc_ms"] += m.get("JVM GC Time", 0)
        d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        d["_stage_ms"][e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", []):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key is not None:
                d[key] += int(acc.get("Update") or 0)

    for desc, d in out.items():
        stage_ms = d.pop("_stage_ms")
        busiest = max(stage_ms.values(), key=sum, default=[])
        med = statistics.median(busiest) if busiest else 0
        d["task_ms_max_over_median"] = (max(busiest) / med) if med else 1.0
        js = [j for j in jobs.values() if j["desc"] == desc and "end" in j]
        d["wall_s"] = (max(j["end"] for j in js) - min(j["start"] for j in js)) / 1000 if js else 0.0
        d["executions"] = sorted({int(j["exec"]) for j in js if j["exec"] is not None})
        d["jobs"] = [(j["start"], j["end"], j["exec"]) for j in sorted(js, key=lambda j: j["start"])]
    return dict(out)
