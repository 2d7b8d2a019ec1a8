"""Spark event-log reader and the writer-layer timeline of one job.

The log must be written uncompressed (``spark.eventLog.compress=false``).
Spark 4 writes a rolling log: a directory ``eventlog_v2_<app>`` holding
``events_<n>_<app>`` files; a single plain file is read as well.

Each SQL execution is matched to a writer layer by the paths in its
physical plan: the ``InsertIntoHadoopFsRelationCommand`` target decides
(``staging``, ``data/bucket=K``, ``_lineage``, ``_metrics``); an
execution with no write that scans ``data/bucket=K`` is that bucket's
status read-back.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

_INSERT_RE = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
    r"(?:[^\n]*\n)*?Arguments: (?:file:)?([^,\n]+)"
)
_SCAN_RE = re.compile(r"Location: \w+ \[([^\]]*)\]")
_BUCKET_RE = re.compile(r"/data/bucket=(\d+)/?$")

# writer layers in timeline order
LAYERS = (
    "stage",
    "bucket_extract",
    "status_readback",
    "lineage_append",
    "manifest",
    "metrics_row",
)


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    ok: bool


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int | None = None
    layer: str | None = None
    bucket: int | None = None
    stage_ids: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    executions: dict[int, Execution] = field(default_factory=dict)
    job_submit_ms: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {log_dir}: {apps}")
    app = apps[0]
    if not os.path.isdir(app):
        return [app]
    files = glob.glob(os.path.join(app, "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def classify(plan: str) -> tuple[str | None, int | None]:
    """``(layer, bucket)`` of one SQL execution from its physical plan."""
    m = _INSERT_RE.search(plan)
    if m:
        target = m.group(1).strip().rstrip("/")
        b = _BUCKET_RE.search(target)
        if b:
            return "bucket_extract", int(b.group(1))
        layer = {
            "staging": "stage",
            "_lineage": "lineage_append",
            "_metrics": "metrics_row",
        }.get(os.path.basename(target))
        return layer, None
    for loc in _SCAN_RE.findall(plan):
        for path in loc.split(", "):
            b = _BUCKET_RE.search(path.strip())
            if b:
                return "status_readback", int(b.group(1))
    return None, None


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    return Task(
        stage_id=e["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        ok=(e.get("Task End Reason") or {}).get("Reason") == "Success",
    )


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    stage_exec: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == SQL_START:
                    layer, bucket = classify(e["physicalPlanDescription"])
                    log.executions[e["executionId"]] = Execution(
                        e["executionId"], e["time"], layer=layer, bucket=bucket
                    )
                elif kind == SQL_END:
                    ex = log.executions.get(e["executionId"])
                    if ex is not None:
                        ex.end_ms = e["time"]
                elif kind == "SparkListenerJobStart":
                    log.job_submit_ms.append(e["Submission Time"])
                    exec_id = (e.get("Properties") or {}).get(
                        "spark.sql.execution.id"
                    )
                    if exec_id is not None:
                        for s in e["Stage IDs"]:
                            stage_exec[s] = int(exec_id)
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(e))
    for ex in log.executions.values():
        ex.stage_ids = {s for s, x in stage_exec.items() if x == ex.id}
    return log


def union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        start = max(s, reach)
        if e > start:
            total += e - start
            reach = e
    return total


def writer_timeline(
    log: EventLog,
    t0: float,
    t1: float,
    lineage: list[tuple[int, float, float]],
    marks: list[tuple[int, float, float]],
) -> dict[str, list[tuple[float, float]]]:
    """Intervals (epoch seconds) of each writer layer in one job.

    ``t0``/``t1`` bound the ``run_extract_job`` call; ``lineage`` is its
    ``(bucket, started_at, finished_at)`` rows; ``marks`` the
    ``(bucket, start, end)`` spans of ``CheckpointManifest.mark``.

    * bucket_extract: the bucket's ``started_at`` → end of its
      ``data/bucket=K`` write execution (plan building, extract, write).
    * manifest: the mark spans.
    * every other layer: the ``[start, end]`` spans of the SQL
      executions classified to it.

    Time in none of these (driver-side Python between Spark calls, lock
    waits while no append runs) is unattributed, so the union of all
    layers over the call's wall is a real coverage figure. A bucket with
    no matched write execution raises: its time would go unmeasured.
    """
    in_job = [
        x for x in log.executions.values()
        if t0 * 1000 <= x.start_ms <= t1 * 1000 and x.end_ms is not None
    ]
    out: dict[str, list[tuple[float, float]]] = {k: [] for k in LAYERS}
    for x in in_job:
        if x.layer in out and x.layer != "bucket_extract":
            out[x.layer].append((x.start_ms / 1000, x.end_ms / 1000))
    write_end = {
        x.bucket: x.end_ms / 1000 for x in in_job if x.layer == "bucket_extract"
    }
    missing = sorted({b for b, _, _ in lineage} - set(write_end))
    if missing:
        raise ValueError(f"no data/bucket=K write execution for {missing}")
    out["bucket_extract"] = [(s, write_end[b]) for b, s, _ in lineage]
    out["manifest"] = [(m0, m1) for _, m0, m1 in marks]
    return out


def job_metrics(
    log: EventLog, t0: float, t1: float, cores: int,
    bucket_phase: tuple[float, float],
) -> dict[str, float]:
    """``{metric: (value, unit)}``: ``spark.*`` and the event-log
    ``writer.*`` counts of the tasks and jobs in one job's window.

    ``spark.slot_util`` is the bucket-extract tasks' run time over the
    bucket phase's wall times ``cores``; ``spark.task_skew`` is the max
    over the median duration of those tasks."""
    lo, hi = t0 * 1000, t1 * 1000
    in_job = [x for x in log.executions.values() if lo <= x.start_ms <= hi]
    stage_of = {}
    for x in in_job:
        for s in x.stage_ids:
            stage_of[s] = x
    tasks = [t for t in log.tasks if lo <= t.launch_ms <= hi]
    bucket_tasks = [
        t for t in tasks
        if t.ok and getattr(stage_of.get(t.stage_id), "layer", None)
        == "bucket_extract"
    ]
    per_bucket: dict[int, int] = {}
    for t in bucket_tasks:
        b = stage_of[t.stage_id].bucket
        per_bucket[b] = per_bucket.get(b, 0) + 1
    durations = [t.finish_ms - t.launch_ms for t in bucket_tasks]
    phase_ms = (bucket_phase[1] - bucket_phase[0]) * 1000
    return {
        "writer.stage_shuffle_bytes": (sum(
            t.shuffle_write_bytes for t in tasks
            if getattr(stage_of.get(t.stage_id), "layer", None) == "stage"
        ), "bytes"),
        "writer.bucket_tasks": (
            statistics.median(per_bucket.values()) if per_bucket else 0,
            "count",
        ),
        "writer.spark_jobs": (
            sum(lo <= j <= hi for j in log.job_submit_ms), "count"
        ),
        "spark.slot_util": (
            sum(t.run_ms for t in bucket_tasks) / (phase_ms * cores)
            if phase_ms > 0 else 0.0,
            "ratio",
        ),
        "spark.task_skew": (
            max(durations) / statistics.median(durations)
            if durations and statistics.median(durations) > 0 else 0.0,
            "ratio",
        ),
        "spark.shuffle_write_bytes": (
            sum(t.shuffle_write_bytes for t in tasks), "bytes"
        ),
        "spark.spill_bytes": (sum(t.spill_bytes for t in tasks), "bytes"),
        "spark.gc_s": (sum(t.gc_ms for t in tasks) / 1000, "s"),
    }
