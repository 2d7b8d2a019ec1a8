"""The correctness gate on a hand-written output of a tiny corpus."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.gate import check_output

TINY = inputs.Workload("tiny", n_docs=30, n_buckets=2, n_files=1)


def _expected():
    corpus = inputs.make_corpus(7, TINY)
    return corpus.select(["url", "expected_text"])


def _write_output(root, rows, n_buckets=2, lineage=None, manifest=None):
    """Lay out a job output: data/bucket=K, _lineage, manifest.json."""
    for b in range(n_buckets):
        part = [r for i, r in enumerate(rows) if i % n_buckets == b]
        d = os.path.join(root, "data", f"bucket={b}")
        os.makedirs(d)
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in part],
                    "status": [r[1] for r in part],
                    "text": [r[2] for r in part],
                },
                schema=pa.schema(
                    [("url", pa.string()), ("status", pa.string()),
                     ("text", pa.string())]
                ),
            ),
            os.path.join(d, "part-0.parquet"),
        )
    os.makedirs(os.path.join(root, "_lineage"))
    pq.write_table(
        pa.table({"bucket": lineage or list(range(n_buckets))}),
        os.path.join(root, "_lineage", "part-0.parquet"),
    )
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(
            {"completed_buckets": manifest or list(range(n_buckets))}, f
        )
    return str(root)


def _good_rows(expected):
    return [
        (u, "succeeded" if t is not None else "succeeded_noop", t or "")
        for u, t in zip(
            expected.column("url").to_pylist(),
            expected.column("expected_text").to_pylist(),
        )
    ]


def test_clean_output_passes(tmp_path):
    exp = _expected()
    res = check_output(_write_output(tmp_path, _good_rows(exp)), exp, 2)
    assert res.correct and res.failed == 0 and res.attempted == 30


def test_corrupted_text_is_flagged(tmp_path):
    exp = _expected()
    rows = _good_rows(exp)
    i = next(i for i, r in enumerate(rows) if r[1] == "succeeded")
    rows[i] = (rows[i][0], "succeeded", rows[i][2] + " ")
    res = check_output(_write_output(tmp_path, rows), exp, 2)
    assert res.failed == 1 and not res.correct
    assert rows[i][0] in res.problems[0]


def test_dropped_and_duplicated_urls_are_flagged(tmp_path):
    exp = _expected()
    rows = _good_rows(exp)
    dropped = rows.pop(3)
    rows.append(rows[0])
    res = check_output(_write_output(tmp_path, rows), exp, 2)
    assert res.failed == 2
    assert any(dropped[0] in p for p in res.problems)


def test_status_change_is_flagged(tmp_path):
    exp = _expected()
    rows = _good_rows(exp)
    i = next(i for i, r in enumerate(rows) if r[1] == "succeeded")
    j = next(i for i, r in enumerate(rows) if r[1] == "succeeded_noop")
    rows[i] = (rows[i][0], "rejected_unparseable", "")
    rows[j] = (rows[j][0], "succeeded", "")
    res = check_output(_write_output(tmp_path, rows), exp, 2)
    assert res.failed == 2
    assert rows[i][0] in res.problems[0] and rows[j][0] in res.problems[1]


def test_failed_status_is_flagged(tmp_path):
    exp = _expected()
    rows = _good_rows(exp)
    rows[5] = (rows[5][0], "failed", "")
    assert check_output(_write_output(tmp_path, rows), exp, 2).failed == 1


def test_lineage_and_manifest_gaps_are_flagged(tmp_path):
    exp = _expected()
    out = _write_output(
        tmp_path, _good_rows(exp), lineage=[0, 0], manifest=[0]
    )
    res = check_output(out, exp, 2)
    # bucket 0 twice and bucket 1 missing in lineage; manifest short
    assert res.failed == 3
    assert len(res.problems) == 2
