"""Correctness gate over one ``run_extract_job`` output directory.

Reads the output with pyarrow (no Spark), so it never shares a timed
region with the job. Checks:

* exactly one output row per input url (missing, duplicated and unknown
  urls are violations);
* no doc has ``status='failed'``;
* a doc with an ``expected_text`` comes out ``succeeded`` with ``text``
  equal to it byte for byte, and a doc without one (empty, unparseable
  or magic-only payloads) never comes out ``succeeded``, so a change
  that drops a whole class into another status is caught;
* one ``_lineage`` row per bucket, and the manifest lists every bucket.

Each doc-level violation counts one doc; each lineage or manifest
violation counts one more.
"""

from __future__ import annotations

import collections
import json
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

MAX_PRINTED = 10


@dataclass
class GateResult:
    attempted: int
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    status_counts: dict[str, int] = field(default_factory=dict)

    def flag(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(what)

    @property
    def correct(self) -> bool:
        return self.failed == 0


def _read(path: str, columns: list[str]) -> pa.Table:
    # hive partition dirs (bucket=K) must not add a column
    return pq.read_table(path, columns=columns, partitioning=None)


def check_output(
    output_dir: str, expected: pa.Table, n_buckets: int
) -> GateResult:
    """Gate ``output_dir`` against ``expected`` (url, expected_text)."""
    want = dict(
        zip(
            expected.column("url").to_pylist(),
            expected.column("expected_text").to_pylist(),
        )
    )
    res = GateResult(attempted=len(want))
    out = _read(
        os.path.join(output_dir, "data"), ["url", "status", "text"]
    ).to_pydict()
    res.status_counts = dict(collections.Counter(out["status"]))

    seen = collections.Counter(out["url"])
    missing = [u for u in want if u not in seen]
    res.flag(len(missing), f"{len(missing)} missing urls {missing[:MAX_PRINTED]}")
    dup = [u for u, c in seen.items() if c > 1]
    res.flag(
        sum(seen[u] - 1 for u in dup),
        f"{len(dup)} duplicated urls {dup[:MAX_PRINTED]}",
    )
    unknown = [u for u in seen if u not in want]
    res.flag(len(unknown), f"{len(unknown)} unknown urls {unknown[:MAX_PRINTED]}")

    failed, wrong, lost, spurious = [], [], [], []
    for url, status, text in zip(out["url"], out["status"], out["text"]):
        if url not in want:
            continue
        if status == "failed":
            failed.append(url)
        elif want[url] is None:
            if status == "succeeded":
                spurious.append(url)
        elif status != "succeeded":
            lost.append((url, status))
        elif text != want[url]:
            wrong.append(url)
    res.flag(len(failed), f"{len(failed)} failed docs {failed[:MAX_PRINTED]}")
    res.flag(
        len(wrong),
        f"{len(wrong)} succeeded docs with text != expected_text"
        f" {wrong[:MAX_PRINTED]}",
    )
    res.flag(
        len(lost),
        f"{len(lost)} docs with an expected_text not 'succeeded'"
        f" {lost[:MAX_PRINTED]}",
    )
    res.flag(
        len(spurious),
        f"{len(spurious)} 'succeeded' docs with no expected_text"
        f" {spurious[:MAX_PRINTED]}",
    )

    lineage = _read(os.path.join(output_dir, "_lineage"), ["bucket"])
    got = collections.Counter(lineage.column("bucket").to_pylist())
    bad = sorted(
        set(range(n_buckets)) ^ set(got) | {b for b, c in got.items() if c > 1}
    )
    res.flag(len(bad), f"lineage rows wrong for buckets {bad}")

    with open(os.path.join(output_dir, "manifest.json"), encoding="utf-8") as f:
        listed = json.load(f).get("completed_buckets", [])
    if sorted(listed) != list(range(n_buckets)):
        res.flag(1, f"manifest lists buckets {listed}, want 0..{n_buckets - 1}")
    return res
