"""Resumable checkpointed job: crash injection, resume, no double-writes
(K2/K3, SURVEY.md §2.6; north rule 'resumable from checkpoint')."""

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.extract import extract
from pbx_ds_ocr_server_spark.sources.writer import (
    CheckpointManifest,
    read_lineage,
    read_output,
    run_extract_job,
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def outdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("job_out"))


@pytest.fixture(scope="module")
def crashed_then_resumed(spark, corpus, outdir):
    first = run_extract_job(
        spark, corpus, outdir, run_id="r1", n_buckets=N_BUCKETS, fail_after=2
    )
    second = run_extract_job(
        spark, corpus, outdir, run_id="r2", n_buckets=N_BUCKETS
    )
    return first, second


def test_crash_leaves_partial_manifest(crashed_then_resumed, outdir):
    first, _ = crashed_then_resumed
    assert len(first.buckets_done) == 2


def test_resume_skips_completed_buckets(crashed_then_resumed):
    first, second = crashed_then_resumed
    assert sorted(second.buckets_skipped) == sorted(first.buckets_done)
    assert len(second.buckets_done) == N_BUCKETS - 2


def test_no_double_writes_and_complete(spark, crashed_then_resumed, corpus, outdir):
    out = read_output(spark, outdir)
    assert out.count() == corpus.count()
    assert out.groupBy("url").count().filter("count > 1").count() == 0


def test_output_matches_direct_extract(spark, crashed_then_resumed, corpus, outdir):
    via_job = read_output(spark, outdir).select("url", "text", "status")
    direct = extract(corpus).select("url", "text", "status")
    assert via_job.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_job).count() == 0


def test_lineage_rows_cover_all_buckets(spark, crashed_then_resumed, outdir):
    lin = read_lineage(spark, outdir)
    assert {r.bucket for r in lin.collect()} == set(range(N_BUCKETS))
    runs = {r.run_id for r in lin.collect()}
    assert runs == {"r1", "r2"}
    # counts are consistent
    tot = lin.agg(F.sum("n_urls")).first()[0]
    assert tot == read_output(spark, outdir).count()


def test_metrics_written_on_completion(spark, crashed_then_resumed, outdir):
    import os

    m = spark.read.parquet(os.path.join(outdir, "_metrics"))
    row = m.orderBy(F.desc("finished_at")).first()
    assert row.docs_per_sec > 0


def test_manifest_corruption_is_tolerated(tmp_path):
    p = tmp_path / "manifest.json"
    p.write_text("{not json")
    m = CheckpointManifest(str(p))
    assert m.completed() == set()
    m.mark(3, 8, "rX")
    assert m.completed() == {3}


def test_rerun_of_complete_job_is_noop(spark, crashed_then_resumed, corpus, outdir):
    third = run_extract_job(spark, corpus, outdir, run_id="r3", n_buckets=N_BUCKETS)
    assert third.buckets_done == []
    assert len(third.buckets_skipped) == N_BUCKETS


def test_restage_with_different_n_buckets_raises(spark, corpus, tmp_path):
    out = str(tmp_path / "mismatch")
    run_extract_job(spark, corpus, out, run_id="rA", n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extract_job(spark, corpus, out, run_id="rB", n_buckets=2)


def test_concurrent_buckets_complete_and_match(spark, corpus, tmp_path):
    # concurrency > default: all buckets land, no double-writes, lineage
    # complete — the serialized lineage/manifest section keeps durability
    out = str(tmp_path / "conc")
    res = run_extract_job(
        spark, corpus, out, run_id="rc", n_buckets=4, concurrency=3
    )
    assert sorted(res.buckets_done) == list(range(4))
    got = read_output(spark, out)
    assert got.count() == corpus.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0
    lin = read_lineage(spark, out)
    assert {r.bucket for r in lin.collect()} == set(range(4))


def test_staging_spreads_hot_host(spark, tmp_path):
    """The staging write is the one salting mechanism: 400 urls from ONE
    host (the crawl-clustered worst case) land in every bucket, none hot."""
    import os

    from pbx_ds_ocr_server_spark.sources.writer import stage_input

    rows = [(f"https://hot.example/{i}", b"<p>x</p>") for i in range(400)]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(1)
    staging = str(tmp_path / "staging")
    stage_input(df, staging, n_buckets=8)
    assert sorted(
        d for d in os.listdir(staging) if d.startswith("bucket=")
    ) == [f"bucket={k}" for k in range(8)]
    sizes = spark.read.parquet(staging).groupBy("bucket").count().collect()
    assert len(sizes) == 8  # every bucket got rows
    assert max(r["count"] for r in sizes) < 400 * 0.5  # no single hot bucket


def test_legacy_empty_staging_marker_resumes_with_warning(spark, corpus, tmp_path):
    import os
    import warnings

    out = str(tmp_path / "legacy")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4, fail_after=1)
    # simulate a staging dir written before the marker recorded a count
    marker = os.path.join(out, "staging", "_STAGED")
    open(marker, "w").close()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)
    assert any("legacy" in str(x.message) for x in w)
    assert len(res.buckets_done) == 3  # resumed, not re-staged


def test_legacy_marker_tolerates_empty_top_buckets(spark, corpus, tmp_path):
    """Layout-derived counts are a LOWER bound (top hash buckets can be
    empty on small inputs): a legacy resume with the true original count
    must not be bricked when bucket=N-1 happens to be missing (round-3
    review finding)."""
    import os
    import shutil
    import warnings

    out = str(tmp_path / "legacy_gap")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4, fail_after=1)
    shutil.rmtree(os.path.join(out, "staging", "bucket=3"), ignore_errors=True)
    open(os.path.join(out, "staging", "_STAGED"), "w").close()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        res = run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)
    assert any("legacy" in str(x.message) for x in w)
    assert len(res.buckets_done) == 3  # resumed with the original count


def test_legacy_marker_with_wrong_n_buckets_still_raises(spark, corpus, tmp_path):
    """The legacy path derives the TRUE count from the bucket=K layout and
    must NOT trust the caller's argument — resuming an 8-bucket staging
    with n_buckets=4 would silently drop half the corpus (round-3 review
    finding)."""
    import os
    import warnings

    out = str(tmp_path / "legacy_bad")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=8, fail_after=1)
    open(os.path.join(out, "staging", "_STAGED"), "w").close()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        with pytest.raises(ValueError, match="n_buckets"):
            run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)


def test_write_table_parquet_and_iceberg_seam(spark, tmp_path):
    from pbx_ds_ocr_server_spark.sources.writer import write_table

    df = spark.range(10).withColumnRenamed("id", "x")
    out = str(tmp_path / "wt")
    write_table(df, out, fmt="parquet", mode="overwrite")
    assert spark.read.parquet(out).count() == 10
    # jar absent in this sandbox: the error must be ACTIONABLE — name the
    # runtime artifact to add and point at the catalog-config recipe
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime") as ei:
        write_table(df, "nocat.db.t", fmt="iceberg")
    assert "spark.sql.catalog" in str(ei.value)
    with pytest.raises(ValueError, match="unknown sink format"):
        write_table(df, out, fmt="orcish")


def _has_iceberg_runtime(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_write_table_iceberg_e2e_append_readback(spark, tmp_path):
    """Runs ONLY when the iceberg-spark-runtime jar is on the classpath
    (absent in this sandbox — the seam test above pins the actionable
    error instead): real createOrReplace + append + read-back + snapshot
    count through the same write_table seam, no code changes."""
    if not _has_iceberg_runtime(spark):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")
    from pbx_ds_ocr_server_spark.sources.writer import write_table

    spark.conf.set(
        "spark.sql.catalog.lakeci", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.lakeci.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.lakeci.warehouse", str(tmp_path / "warehouse")
    )
    df = spark.range(5).withColumnRenamed("id", "x")
    write_table(df, "lakeci.db.t", fmt="iceberg", mode="replace")
    write_table(df, "lakeci.db.t", fmt="iceberg", mode="append")
    assert spark.table("lakeci.db.t").count() == 10
    snaps = spark.sql(
        "SELECT count(*) FROM lakeci.db.t.snapshots"
    ).first()[0]
    assert snaps >= 2  # one per commit — expiry would prune these


def test_noop_rerun_appends_no_metrics_row(spark, crashed_then_resumed, corpus, outdir):
    """Tenth-review fix: re-running an already-complete job must not
    append a zero-docs row to _metrics on every invocation."""
    import os

    metrics_dir = os.path.join(outdir, "_metrics")
    before = spark.read.parquet(metrics_dir).count()
    run_extract_job(spark, corpus, outdir, run_id="rX", n_buckets=N_BUCKETS)
    assert spark.read.parquet(metrics_dir).count() == before


def test_corrupt_staging_marker_raises_diagnostic(spark, corpus, tmp_path):
    """Tenth-review fix: a garbage marker gets a diagnostic, and a torn
    plausible-but-smaller count is caught against the bucket layout
    before any resume trusts it."""
    import os

    out = str(tmp_path / "corrupt_marker")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4)
    marker = os.path.join(out, "staging", "_STAGED")
    with open(marker, "w", encoding="utf-8") as f:
        f.write("not-a-number")
    with pytest.raises(ValueError, match="corrupt"):
        run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)
    with open(marker, "w", encoding="utf-8") as f:
        f.write("1")  # torn prefix of a larger legacy count
    with pytest.raises(ValueError, match="corrupt marker"):
        run_extract_job(spark, corpus, out, run_id="r3", n_buckets=1)


def test_remote_output_uri_is_rejected_before_staging(
    spark, corpus, tmp_path, monkeypatch
):
    """The manifest, _STAGED marker, lineage and metrics are driver-local
    file writes: a URI output would put them in a local dir named 's3:'."""
    monkeypatch.chdir(tmp_path)
    for uri, scheme in (("s3://bucket/out", "s3"), ("hdfs://nn/out", "hdfs")):
        with pytest.raises(ValueError, match=f"scheme '{scheme}'"):
            run_extract_job(spark, corpus, uri, run_id="rU", n_buckets=2)
    assert list(tmp_path.iterdir()) == []


# the lineage category of every status extract emits; a new status fails
# the count test below until it is placed here
_CATEGORY = {
    "succeeded": "n_succeeded",
    "succeeded_empty": "n_succeeded",
    "succeeded_partial": "n_succeeded",
    "succeeded_noop": "n_noop",
    "rejected_size": "n_rejected",
    "rejected_pages": "n_rejected",
    "rejected_unparseable": "n_rejected",
    "failed": "n_failed",
}


def test_lineage_counts_match_output(spark, corpus, tmp_path):
    """Lineage counts come from the bucket write's observed metrics, not a
    read-back: they must equal the output's own per-bucket counts, empty
    buckets included (one url per status, twice as many buckets as urls)."""
    per_status = extract(corpus).groupBy("status").agg(F.min("url").alias("url"))
    urls = [r.url for r in per_status.collect()]
    small = corpus.join(
        spark.createDataFrame([(u,) for u in urls], "url string"), "url"
    )
    n_buckets = 2 * len(urls)
    out = str(tmp_path / "counts")
    run_extract_job(spark, small, out, run_id="rk", n_buckets=n_buckets)

    want = {
        b: dict.fromkeys(["n_urls", *sorted(set(_CATEGORY.values()))], 0)
        for b in range(n_buckets)
    }
    for r in read_output(spark, out).select("bucket", "status").collect():
        want[r.bucket]["n_urls"] += 1
        want[r.bucket][_CATEGORY[r.status]] += 1
    got = {
        r.bucket: {k: r[k] for k in want[0]}
        for r in read_lineage(spark, out).collect()
    }
    assert got == want
    assert any(c["n_urls"] == 0 for c in want.values())  # empty buckets
    assert sum(c["n_urls"] for c in want.values()) == len(urls)


def _spark_job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    # the status tracker is fed from the listener bus asynchronously; drain
    # it (a JVM-internal call, reachable through py4j) before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def test_each_bucket_costs_only_its_write_job(spark, corpus, tmp_path):
    """Regression guard: bookkeeping (status counts, lineage, metrics,
    manifest) launches no Spark job, so a bucket adds exactly one job — its
    data write — and a run adds a fixed number for staging."""
    small = corpus.filter(F.xxhash64("url") % 8 == 0)
    jobs = {}
    for n_buckets in (2, 5):
        before = _spark_job_ids(spark)
        run_extract_job(
            spark, small, str(tmp_path / f"b{n_buckets}"), n_buckets=n_buckets
        )
        jobs[n_buckets] = len(_spark_job_ids(spark) - before)
    assert jobs[5] - jobs[2] == 5 - 2
    assert jobs == {2: 5, 5: 8}  # 3 staging jobs + one write per bucket


def test_failed_bucket_records_lineage_row(spark, corpus, tmp_path):
    """A bucket that raises leaves a 'failed' lineage row with the error and
    NULL counts, is not marked complete, and a clean re-stage finishes it."""
    import glob
    import os
    import shutil

    out = str(tmp_path / "failed_bucket")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4, fail_after=1)
    staging = os.path.join(out, "staging")
    bad = next(  # bucket 0 completed above
        b for b in (1, 2, 3) if os.path.isdir(f"{staging}/bucket={b}")
    )
    for part in glob.glob(os.path.join(staging, f"bucket={bad}", "*.parquet")):
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)

    rows = {(r.run_id, r.bucket): r for r in read_lineage(spark, out).collect()}
    failed = rows[("r2", bad)]
    assert failed.status == "failed" and f"bucket={bad}" in failed.error
    assert failed.n_urls is None and failed.n_succeeded is None
    manifest = CheckpointManifest(os.path.join(out, "manifest.json"))
    assert manifest.completed() == set(range(4)) - {bad}
    succeeded = {b for (_, b), r in rows.items() if r.status == "succeeded"}
    assert succeeded == set(range(4)) - {bad}

    shutil.rmtree(staging)
    third = run_extract_job(spark, corpus, out, run_id="r3", n_buckets=4)
    assert third.buckets_done == [bad]
    got = read_output(spark, out)
    assert got.count() == corpus.count()
    assert got.groupBy("url").count().filter("count > 1").count() == 0


def test_resume_into_spark_appended_lineage_dir(spark, corpus, tmp_path):
    """Lineage dirs from earlier versions hold Spark-appended part files
    (v1: no html_backend column). A resume adds per-bucket pyarrow files
    next to them, and read_lineage returns both through mergeSchema."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "mixed_lineage")
    lineage_dir = os.path.join(out, "_lineage")
    run_extract_job(spark, corpus, out, run_id="r1", n_buckets=4, fail_after=1)
    # rewrite r1's row the way the v1 writer stored it
    (r1_file,) = os.listdir(lineage_dir)
    r1_path = os.path.join(lineage_dir, r1_file)
    row = pq.read_table(r1_path).drop(["html_backend"])
    os.remove(r1_path)
    spark.createDataFrame(
        row.to_pylist(),
        "run_id string, bucket int, n_urls long, n_succeeded long,"
        " n_noop long, n_rejected long, n_failed long,"
        " started_at double, finished_at double, status string, error string",
    ).coalesce(1).write.mode("append").parquet(lineage_dir)

    run_extract_job(spark, corpus, out, run_id="r2", n_buckets=4)
    files = [f for f in os.listdir(lineage_dir) if f.endswith(".parquet")]
    assert len([f for f in files if f.startswith("part-r2-")]) == 3
    assert len([f for f in files if not f.startswith("part-r2-")]) == 1
    lin = read_lineage(spark, out).collect()
    assert {r.bucket for r in lin} == set(range(4))
    legacy = {r.run_id: r.html_backend is None for r in lin}
    assert legacy == {"r1": True, "r2": False}
