"""Counters read after the run: Spark's event log and the table manifests.

Spark: the traced run writes an uncompressed, non-rolling event log.
Each job carries the ``spark.jobGroup.id`` its span set (see
trace.py); each completed stage carries its task metrics as
accumulables. ``job_counters`` folds them into per-group figures:

- ``executor_run_s``: summed task executor run time;
- ``sched_gap_s``: per job, its wall time minus the time its stages
  would take if every task slot ran their executor time back to back
  (``executorRunTime / min(tasks, cores)`` per stage), floored at 0.
  It is the job's time spent scheduling, waiting and on the driver.

Storage: every commit of the lakehouse table format is a JSON snapshot
manifest (``<table>/snapshots/vNNNNNNNN.json``) listing live, added
and removed data files.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "sched_gap_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


def read_event_log(path: str | Path) -> tuple[dict, dict]:
    """(jobs by id, completed stages by id) from an uncompressed log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"],
                    "end": None,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = {"tasks": si["Number of Tasks"], "run_ms": 0,
                      "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                      "spill_bytes": 0,
                      "wall_ms": si.get("Completion Time", 0) - si.get("Submission Time", 0)}
                for acc in si.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        st[key] += int(acc["Value"])
                stages[si["Stage ID"]] = st
    return jobs, stages


def job_counters(jobs: dict, stages: dict, cores: int) -> dict[str, dict]:
    """Spark counters summed per job group (None = untagged jobs)."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for job in jobs.values():
        c = out.setdefault(job["group"], dict.fromkeys(SPARK_KEYS, 0))
        c["jobs"] += 1
        busy_ms = 0.0
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or sid in seen:  # skipped, or counted by an earlier job
                continue
            seen.add(sid)
            c["stages"] += 1
            c["tasks"] += st["tasks"]
            c["executor_run_s"] += st["run_ms"] / 1000
            for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                c[k] += st[k]
            busy_ms += st["run_ms"] / max(1, min(st["tasks"], cores))
        if job["end"] is not None:
            c["sched_gap_s"] += max(0.0, (job["end"] - job["start"]) - busy_ms) / 1000
    return out


# -- storage -------------------------------------------------------------
def snapshots(table_root: str | Path) -> list[dict]:
    snap_dir = Path(table_root) / "snapshots"
    out = []
    for p in sorted(snap_dir.glob("v*.json")):
        snap = json.loads(p.read_text())
        snap["_manifest_bytes"] = p.stat().st_size
        out.append(snap)
    return out


def storage_counters(table_root: str | Path, after_version: int) -> dict:
    """Commits after ``after_version``: data files added and removed,
    bytes of added data files, and the parent's live file count of
    each commit; plus the table's state at the end of the run."""
    root = Path(table_root)
    snaps = snapshots(root)
    by_version = {s["version"]: s for s in snaps}
    new = [s for s in snaps if s["version"] > after_version]
    cur = by_version[int((root / "CURRENT").read_text())]
    return {
        "commits_in_run": len(new),
        "added_files": sum(len(s["added_files"]) for s in new),
        "removed_files": sum(len(s["removed_files"]) for s in new),
        "parent_live_files": sum(
            len(by_version[s["parent_id"]]["files"]) for s in new
            if s.get("parent_id") in by_version
        ),
        "added_records": sum(s["summary"].get("added_records", 0) for s in new),
        "bytes_written": sum(
            os.path.getsize(root / "data" / f) for s in new for f in s["added_files"]
        ),
        "commits": len(snaps),
        "live_files": len(cur["files"]),
        "manifest_bytes": cur["_manifest_bytes"],
        "version": cur["version"],
    }


def table_version(table_root: str | Path) -> int:
    ptr = Path(table_root) / "CURRENT"
    return int(ptr.read_text()) if ptr.exists() else 0
