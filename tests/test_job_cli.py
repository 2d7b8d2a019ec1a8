"""``python -m pbx_ds_ocr_server_spark.job`` exit codes and output.

Run as a subprocess: ``main()`` stops its Spark session, which would end
the test session's shared one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(cwd, *args) -> subprocess.CompletedProcess:
    path = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, PYTHONPATH=path, SPARK_DRIVER_MEM="1g")
    return subprocess.run(
        [sys.executable, "-m", "pbx_ds_ocr_server_spark.job", *args,
         "--buckets", "2", "--master", "local[2]"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_in")
    good = str(d / "pages.parquet")
    pq.write_table(
        pa.table({
            "url": [f"https://example.com/{i}" for i in range(3)],
            "html": [f"<html><body><p>page {i}</p></body></html>".encode()
                     for i in range(3)],
        }),
        good,
    )
    docs = str(d / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1], "text": ["not a page table"]}), docs)
    return good, docs


def test_job_prints_summary_and_exits_0(pages, tmp_path):
    p = _job(tmp_path, "--input", pages[0], "--output", str(tmp_path / "out"))
    assert p.returncode == 0, p.stderr[-2000:]
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    assert summary["docs_out"] == 3
    assert sorted(summary["buckets_done"]) == [0, 1]


def test_job_missing_columns_exits_2(pages, tmp_path):
    p = _job(tmp_path, "--input", pages[1], "--output", str(tmp_path / "out"))
    assert p.returncode == 2
    assert "lacks required column(s) ['url', 'html']" in p.stderr


def test_job_remote_output_exits_2(pages, tmp_path):
    p = _job(tmp_path, "--input", pages[0], "--output", "s3://bucket/extracted")
    assert p.returncode == 2
    assert "scheme 's3'" in p.stderr
    assert list(tmp_path.iterdir()) == []  # no local 's3:' dir
