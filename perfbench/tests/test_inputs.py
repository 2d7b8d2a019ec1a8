"""The seeded input generator: same seed, same bytes; new seed, new input."""

import dataclasses
import os

import pyarrow.parquet as pq

from perfbench import inputs

TINY = inputs.Workload("tiny", n_docs=40, n_buckets=2, n_files=2)


def _files(entry):
    return {
        os.path.relpath(os.path.join(d, f), entry): open(
            os.path.join(d, f), "rb"
        ).read()
        for d, _, files in os.walk(entry)
        for f in files
    }


def test_same_seed_same_input(tmp_path):
    a = inputs.ensure_input(str(tmp_path / "a"), TINY, 3)
    b = inputs.ensure_input(str(tmp_path / "b"), TINY, 3)
    assert _files(a) == _files(b)
    pages = pq.read_table(inputs.input_dir(a))
    assert pages.column_names == ["url", "html"]
    assert pages.num_rows == TINY.n_docs
    assert inputs.read_expected(a).column("url") == pages.column("url")


def test_different_seed_different_input():
    a = inputs.make_corpus(3, TINY)
    b = inputs.make_corpus(4, TINY)
    assert set(a.column("url").to_pylist()).isdisjoint(
        b.column("url").to_pylist()
    )
    assert a.column("html") != b.column("html")


def test_documents_shape():
    docs = inputs.make_documents(5, 300)
    assert [d for d, _, _ in docs] == list(range(5_000_000, 5_000_300))
    words = [len(t.split()) for _, t, _ in docs]
    assert min(words) >= 10 and max(words) <= 100
    assert {w for _, t, _ in docs for w in t.split()} <= set(inputs.VOCAB)


def test_cache_key_tracks_versions_and_shape(tmp_path, monkeypatch):
    base = inputs.input_path(str(tmp_path), TINY, 1)
    bigger = dataclasses.replace(TINY, n_docs=41)
    assert inputs.input_path(str(tmp_path), bigger, 1) != base
    monkeypatch.setattr(inputs, "CORPUS_VERSION", inputs.CORPUS_VERSION + 1)
    assert inputs.input_path(str(tmp_path), TINY, 1) != base


def test_torn_cache_entry_is_regenerated(tmp_path):
    entry = inputs.ensure_input(str(tmp_path), TINY, 2)
    os.remove(os.path.join(entry, "_SUCCESS"))
    part = os.path.join(inputs.input_dir(entry), "part-00000.parquet")
    with open(part, "wb") as f:
        f.write(b"torn")
    again = inputs.ensure_input(str(tmp_path), TINY, 2)
    assert pq.read_table(inputs.input_dir(again)).num_rows == TINY.n_docs


def test_any_integer_seed_is_valid():
    for seed in (-7, 2_718_281_828, 2**63):
        base = inputs.doc_id_base(seed)
        assert 0 <= base < inputs.ID_SLOTS * inputs.DOC_ID_STRIDE
        docs = inputs.make_documents(seed, 3)
        assert [d for d, _, _ in docs] == [base, base + 1, base + 2]
    assert inputs.make_corpus(2**40, TINY).num_rows == TINY.n_docs
