"""Seeded synthetic crawl for the benchmark workloads, cached on disk.

The seed draws a documents table shaped like the repo's ``documents``
test tables (31-word vocabulary, 10-100 words per doc, five languages)
and shifts its ``doc_id`` range, so each seed draws a different class
assignment and url set from ``corpus.synthesize_row`` (the per-row
function ``synthesize_corpus_df`` maps). Rows are generated in this
process with no Spark session, so generation cost never overlaps a
measured region.

Each cached entry is a directory named after the workload, the seed,
``CORPUS_VERSION``, ``GENERATOR_VERSION`` and a digest of the workload's
shape (a change to any of them changes the name, so a stale corpus is
never reused). It holds ``input/``, the ``(url, html)`` page table the
job reads, and ``expected.parquet``, the ``(url, expected_text)`` answer
key the correctness gate reads; the job never sees the answer key.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pbx_ds_ocr_server_spark.corpus import CORPUS_VERSION, synthesize_row

# bump when the documents table or the file layout below changes
GENERATOR_VERSION = 2

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join"
    " key line merge order part query row scan slow small sort spark"
    " stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
ID_SLOTS = 100_000  # doc_id ranges; any integer seed maps to one
DOC_ID_STRIDE = 1_000_000  # doc_ids of one seed: [slot*stride, +n_docs)

CORPUS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("html", pa.binary()),
        ("expected_text", pa.string()),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_buckets: int
    n_files: int = 8


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("mix", n_docs=12_000, n_buckets=2),
        Workload("fanout", n_docs=300, n_buckets=4),
    )
}


def doc_id_base(seed: int) -> int:
    """First doc_id of ``seed``'s range. Any integer is a valid seed; the
    slot ``seed mod ID_SLOTS`` keeps doc_ids (and the timestamps derived
    from them) in range."""
    return (seed % ID_SLOTS) * DOC_ID_STRIDE


def make_documents(seed: int, n_docs: int) -> list[tuple[int, str, str]]:
    """``(doc_id, text, lang)`` rows; the same seed gives the same rows."""
    if n_docs > DOC_ID_STRIDE:
        raise ValueError(f"n_docs {n_docs} exceeds one seed's id range")
    rng = random.Random(seed)
    base = doc_id_base(seed)
    rows = []
    for i in range(n_docs):
        doc_id = base + i
        text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append((doc_id, text, lang))
    return rows


def make_corpus(seed: int, w: Workload) -> pa.Table:
    """The workload's crawl: one row per url with its expected text."""
    cols: dict[str, list] = {name: [] for name in CORPUS_SCHEMA.names}
    for doc_id, text, lang in make_documents(seed, w.n_docs):
        row = synthesize_row(doc_id, text, lang)
        for name in CORPUS_SCHEMA.names:
            cols[name].append(row[name])
    return pa.table(cols, schema=CORPUS_SCHEMA)


def write_corpus(table: pa.Table, entry: str, n_files: int):
    """Write ``table``'s ``(url, html)`` as ``n_files`` parquet files under
    ``entry/input``, in generation order, and its ``(url, expected_text)``
    to ``entry/expected.parquet``."""
    os.makedirs(input_dir(entry))
    pages = table.select(["url", "html"])
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            pages.slice(k * step, step),
            os.path.join(input_dir(entry), f"part-{k:05d}.parquet"),
        )
    pq.write_table(
        table.select(["url", "expected_text"]),
        os.path.join(entry, "expected.parquet"),
    )


def input_path(cache_dir: str, w: Workload, seed: int) -> str:
    shape = hashlib.sha256(repr(w).encode()).hexdigest()[:8]
    return os.path.join(
        cache_dir,
        f"{w.name}-seed{seed}-corpus{CORPUS_VERSION}"
        f"-gen{GENERATOR_VERSION}-{shape}",
    )


def ensure_input(cache_dir: str, w: Workload, seed: int) -> str:
    """Cache entry of the workload's input for ``seed``, generated on a
    miss.

    A directory without its ``_SUCCESS`` marker is a torn write and is
    regenerated."""
    path = input_path(cache_dir, w, seed)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    write_corpus(make_corpus(seed, w), path, w.n_files)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def input_dir(entry: str) -> str:
    """The ``(url, html)`` page table of a cache entry."""
    return os.path.join(entry, "input")


def read_expected(entry: str) -> pa.Table:
    """``(url, expected_text)`` of a cache entry."""
    return pq.read_table(os.path.join(entry, "expected.parquet"))
