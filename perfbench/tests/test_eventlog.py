"""The event-log reader on a recorded two-bucket job (record_fixture.py)."""

import json
import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_2buckets")


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(os.path.join(FIXTURE, "log"))


@pytest.fixture(scope="module")
def job():
    with open(os.path.join(FIXTURE, "job.json")) as f:
        return json.load(f)


def test_executions_match_writer_layers(log):
    layers = sorted(
        (x.layer, x.bucket) for x in log.executions.values() if x.layer
    )
    assert layers == [
        ("bucket_extract", 0),
        ("bucket_extract", 1),
        ("lineage_append", None),
        ("lineage_append", None),
        ("metrics_row", None),
        ("stage", None),
        ("status_readback", 0),
        ("status_readback", 1),
    ]
    assert all(x.end_ms >= x.start_ms for x in log.executions.values())


def test_tasks_map_to_executions(log):
    bucket_stages = {
        s for x in log.executions.values() if x.layer == "bucket_extract"
        for s in x.stage_ids
    }
    assert sum(t.stage_id in bucket_stages for t in log.tasks) == 2


def test_timeline_covers_the_job(log, job):
    t0, t1 = job["t0"], job["t1"]
    tl = eventlog.writer_timeline(log, t0, t1, job["lineage"], job["marks"])
    assert set(tl) == set(eventlog.LAYERS)
    assert len(tl["bucket_extract"]) == len(tl["manifest"]) == 2
    for spans in tl.values():
        for s, e in spans:
            assert t0 - 0.01 <= s <= e <= t1 + 0.01
    assert all(tl[k] for k in eventlog.LAYERS)
    covered = eventlog.union_s([s for v in tl.values() for s in v])
    assert 0.8 < covered / (t1 - t0) < 1


def test_unmatched_bucket_raises(log, job):
    lineage = job["lineage"] + [[5, job["t0"], job["t1"]]]
    with pytest.raises(ValueError, match=r"\[5\]"):
        eventlog.writer_timeline(log, job["t0"], job["t1"], lineage, [])


def test_job_metrics(log, job):
    lineage = job["lineage"]
    phase = (min(s for _, s, _ in lineage), max(f for _, _, f in lineage))
    m = {
        k: v
        for k, (v, _unit) in eventlog.job_metrics(
            log, job["t0"], job["t1"], 4, phase
        ).items()
    }
    assert m["writer.bucket_tasks"] == 1
    assert m["writer.stage_shuffle_bytes"] > 0
    assert m["spark.shuffle_write_bytes"] >= m["writer.stage_shuffle_bytes"]
    # the session's spawn job and the input's schema read come before t0
    assert m["writer.spark_jobs"] == len(log.job_submit_ms) - 2 == 16
    assert 0 < m["spark.slot_util"] <= 1
    assert m["spark.task_skew"] >= 1


def test_classify_plans():
    write = (
        "(3) Execute InsertIntoHadoopFsRelationCommand\n"
        "Input [2]: [url#1, html#2]\n"
        "Arguments: file:/x/out/data/bucket=7, false, Parquet\n"
    )
    assert eventlog.classify(write) == ("bucket_extract", 7)
    assert eventlog.classify(write.replace("data/bucket=7", "_lineage")) == (
        "lineage_append", None)
    scan = "Location: InMemoryFileIndex [file:/x/out/data/bucket=3]\n"
    assert eventlog.classify(scan) == ("status_readback", 3)
    assert eventlog.classify("Location: InMemoryFileIndex [file:/in]\n") == (
        None, None)


def test_union_counts_overlap_once():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert eventlog.union_s([]) == 0
