"""Record the event-log fixture used by test_eventlog.py.

Runs one tiny ``run_extract_job`` (24 docs, 2 buckets) with Spark's
event log on, keeps only the events and fields the reader uses, and
writes them with the job's window, lineage rows and manifest-mark spans:

    python3 perfbench/tests/record_fixture.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import env, eventlog, inputs  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_2buckets")
TINY = inputs.Workload("fixture", n_docs=24, n_buckets=2, n_files=2)
PLAN_KEEP = ("Execute InsertIntoHadoopFsRelationCommand", "Arguments: file:",
             "Location: ")


def _trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == eventlog.SQL_START:
        plan = "\n".join(
            line for line in e["physicalPlanDescription"].splitlines()
            if line.lstrip().startswith(PLAN_KEEP)
            or ") Execute InsertInto" in line
        )
        # paths of the recording checkout become /work/...
        plan = plan.replace(env.WORK, "/work")
        return {"Event": kind, "executionId": e["executionId"],
                "time": e["time"], "physicalPlanDescription": plan + "\n"}
    if kind == eventlog.SQL_END:
        return {"Event": kind, "executionId": e["executionId"],
                "time": e["time"]}
    if kind == "SparkListenerJobStart":
        props = {k: v for k, v in (e.get("Properties") or {}).items()
                 if k == "spark.sql.execution.id"}
        return {"Event": kind, "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"], "Properties": props}
    if kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        return {
            "Event": kind,
            "Stage ID": e["Stage ID"],
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
            "Task Info": {k: e["Task Info"][k]
                          for k in ("Launch Time", "Finish Time")},
            "Task Metrics": {
                "Executor Run Time": m.get("Executor Run Time", 0),
                "JVM GC Time": m.get("JVM GC Time", 0),
                "Disk Bytes Spilled": m.get("Disk Bytes Spilled", 0),
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                },
            },
        }
    return None


def main() -> int:
    from perfbench.run import _lineage_rows, record_marks
    from pbx_ds_ocr_server_spark.sources.writer import run_extract_job

    env.prepare_process()
    src_dir = inputs.input_dir(inputs.ensure_input(env.CACHE, TINY, 0))
    log_dir = os.path.join(env.RUNS, "fixture-eventlog")
    out = os.path.join(env.RUNS, "fixture-job")
    for d in (log_dir, out):
        shutil.rmtree(d, ignore_errors=True)
    spark, _, _ = env.start_session(event_log_dir=log_dir)
    marks: list = []
    try:
        src = spark.read.parquet(src_dir)
        with record_marks(marks):
            t0 = time.time()
            run_extract_job(spark, src, out, n_buckets=TINY.n_buckets)
            t1 = time.time()
    finally:
        env.stop_session(spark)
    shutil.rmtree(FIXTURE, ignore_errors=True)
    os.makedirs(os.path.join(FIXTURE, "log", "app"))
    with open(os.path.join(FIXTURE, "log", "app", "events_1_app"), "w") as f:
        for path in eventlog.event_files(log_dir):
            with open(path, encoding="utf-8") as src_f:
                for line in src_f:
                    kept = _trim(json.loads(line))
                    if kept is not None:
                        f.write(json.dumps(kept) + "\n")
    with open(os.path.join(FIXTURE, "job.json"), "w") as f:
        json.dump({"t0": t0, "t1": t1, "lineage": _lineage_rows(out),
                   "marks": marks}, f, indent=1)
    shutil.rmtree(env.RUNS, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
