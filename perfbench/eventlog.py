"""Reader for Spark's JSON event log (traced runs only).

The benchmark turns the log on through its own submit arguments
(``spark.eventLog.enabled=true``, ``compress=false``, ``rolling=false``),
so each traced process leaves one plain JSON-lines file.  From it this
module derives the job-level counts and the per-job-group task totals:

- Spark jobs, with submit/complete times and their job group;
- how many stages scanned each named parquet table: a stage scanned a
  table when it updated one of the SQL metrics of a ``Scan parquet``
  plan node whose location is that table's directory (cached and reused
  reads update no scan metric, so they do not count);
- executor CPU, GC, shuffle-write and spill totals per job group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
NO_GROUP = "(none)"


def log_file(event_dir: str) -> str:
    """The single event-log file Spark wrote into ``event_dir``."""
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def read_events(path: str) -> list[dict]:
    """Events of one log; the last line of a killed application's log
    may be cut off mid-write and is then skipped."""
    with open(path, encoding="utf-8") as f:
        lines = [line for line in f if line.strip()]
    events = [json.loads(line) for line in lines[:-1]]
    try:
        events.append(json.loads(lines[-1]))
    except (IndexError, json.JSONDecodeError):
        pass
    return events


def _scan_accumulators(plan: dict, tables: dict[str, str], out: dict) -> None:
    loc = plan.get("metadata", {}).get("Location", "")
    if plan.get("nodeName", "").startswith("Scan") and loc:
        for name, directory in tables.items():
            if loc.rstrip("]").endswith(directory.rstrip("/")):
                for m in plan.get("metrics", []):
                    out[m["accumulatorId"]] = name
    for child in plan.get("children", []):
        _scan_accumulators(child, tables, out)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def summarize(events: list[dict], tables: dict[str, str]) -> dict:
    """Counts and totals of one application.

    ``tables`` maps a name to the absolute directory of a parquet table;
    the result's ``scans`` counts the stages that scanned each one.
    Times are epoch seconds."""
    app_start = app_end = None
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    scan_acc: dict[int, str] = {}
    scans: dict[str, int] = {name: 0 for name in tables}
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float)
    )
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"] / 1000
        elif kind == "SparkListenerApplicationEnd":
            app_end = e["Timestamp"] / 1000
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000,
                "end": None,
                "group": group,
            }
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind in (SQL_START, SQL_AQE):
            _scan_accumulators(e["sparkPlanInfo"], tables, scan_acc)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            hit = {
                scan_acc[a["ID"]]
                for a in info.get("Accumulables", [])
                if a["ID"] in scan_acc
            }
            for name in hit:
                scans[name] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            t = totals[stage_group.get(e["Stage ID"], NO_GROUP)]
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000
            t["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    if app_start is None:
        raise RuntimeError("event log has no application start")
    done = [j for j in jobs.values() if j["end"] is not None]
    end = app_end if app_end is not None else max(
        [j["end"] for j in done], default=app_start
    )
    busy = covered([(j["start"], j["end"]) for j in done], app_start, end)
    return {
        "app_start": app_start,
        "app_end": end,
        "spark_jobs": len(jobs),
        "driver_only_s": (end - app_start) - busy,
        "jobs": sorted(done, key=lambda j: j["start"]),
        "scans": scans,
        "by_group": {g: dict(v) for g, v in totals.items()},
    }
