"""End-to-end Spark pipeline: byte-identity, statuses, span integrity,
and partition-level determinism (SURVEY.md §7 hard-part 1)."""

import pytest
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.operators.extract import extract, extract_pages


@pytest.fixture(scope="module")
def result(spark, corpus):
    df = extract(corpus).join(
        corpus.select("url", "doc_class", "expected_text"), "url"
    )
    df = df.cache()
    df.count()
    return df


def test_byte_identity_all_extractable(result):
    succeeded = result.filter(F.col("status") == "succeeded")
    bad = succeeded.filter(F.col("text") != F.col("expected_text"))
    assert bad.count() == 0
    assert succeeded.count() > 400  # 462 of 500 at sf0.001


def test_statuses_partition_the_corpus(result, corpus):
    by_status = {
        r["status"]: r["count"]
        for r in result.groupBy("status").count().collect()
    }
    assert sum(by_status.values()) == corpus.count()  # nothing silently dropped
    assert by_status.get("succeeded_noop", 0) > 0      # png rows pass through
    assert by_status.get("rejected_unparseable", 0) > 0  # empty + bad_pdf


def test_span_offsets_reconstruct_text(result):
    rows = (
        result.filter((F.col("status") == "succeeded") & (F.size("spans") > 0))
        .select("text", "spans")
        .limit(50)
        .collect()
    )
    assert rows
    for r in rows:
        raw = r.text.encode("utf-8")
        for s in r.spans:
            assert raw[s.start : s.end].decode("utf-8") == s.text


def test_pdf_spans_have_page_indexes(result):
    # sample several multi-page PDFs: whichever doc lands first under the
    # corpus class hash may be an honest-empty one (cid_noto) or carry
    # text on a single page — at least one sampled doc must show spans
    # across >= 2 pages starting at page 1
    rows = (
        result.filter(
            (F.col("content_type") == "pdf")
            & (F.col("n_pages") >= 2)
            & (F.size("spans") > 0)
        )
        .select("spans")
        .limit(20)
        .collect()
    )
    assert rows
    indexes = [{s.page_index for s in r.spans} for r in rows]
    assert all(min(idx) == 1 for idx in indexes)
    assert any(len(idx) >= 2 for idx in indexes)


def test_fused_extract_matches_page_assembly(spark, corpus):
    """Round-9 optimization: extract() assembles documents inside the
    extraction pass (zero shuffles). The composable page-level path
    (extract_pages → assemble_documents) is the JVM reference
    implementation of the same assembly spec — the two must be row- and
    byte-identical across every corpus class (all statuses, multi-page
    PDFs with span re-basing, blank-page skipping, rasters, rejects)."""
    from pbx_ds_ocr_server_spark.operators.extract import assemble_documents

    fused = extract(corpus)
    paged = assemble_documents(extract_pages(corpus))
    assert fused.columns == paged.columns
    # same names and types; nullability differs by construction (mapInPandas
    # schemas are always nullable, concat_ws is provably non-null) and is
    # invisible to the driver's pandas comparison
    assert [(f.name, f.dataType) for f in fused.schema] == [
        (f.name, f.dataType) for f in paged.schema
    ]
    assert fused.exceptAll(paged).count() == 0
    assert paged.exceptAll(fused).count() == 0


def test_determinism_across_partitionings(spark, corpus):
    """Same input at two parallelism shapes → identical bytes (north rule)."""
    a = extract(corpus.repartition(3)).select("url", "text", "status")
    b = extract(corpus.repartition(17)).select("url", "text", "status")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_determinism_across_arrow_batch_sizes(spark, corpus):
    """Arrow batch boundaries must never leak into results."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")
        a = extract(corpus).select("url", "text", "spans")
        a_rows = a.count()
        spark.conf.set(key, "1024")
        b = extract(corpus).select("url", "text", "spans")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert a_rows == b.count()
    finally:
        spark.conf.set(key, old)


def test_column_pruning_reaches_scan(spark, corpus, tmp_path_factory):
    """Scale check: extract() selects only (url, html) before the heavy
    stage, so a parquet scan must prune text/lang/warc_ts (ReadSchema has
    exactly url+html)."""
    path = str(tmp_path_factory.mktemp("corpus") / "corpus.parquet")
    corpus.write.mode("overwrite").parquet(path)
    plan = (
        extract_pages(spark.read.parquet(path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = plan[plan.index("ReadSchema"):][:200]
    assert "url" in scan and "html" in scan
    assert "warc_ts" not in scan and "lang" not in scan and "expected_text" not in scan


def test_keep_latest_snapshot_resolves_revisits(spark):
    import datetime

    from pbx_ds_ocr_server_spark.operators.extract import keep_latest_snapshot

    t1 = datetime.datetime(2025, 1, 1)
    t2 = datetime.datetime(2025, 2, 1)
    rows = [
        ("u:a", t1, b"<p>old</p>"),
        ("u:a", t2, b"<p>new</p>"),
        ("u:b", t1, b"<p>short</p>"),
        ("u:b", t1, b"<p>same ts but longer</p>"),  # tie → larger payload
        ("u:c", t1, b"<p>only</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    kept = {r.url: bytes(r.html) for r in keep_latest_snapshot(df).collect()}
    assert kept["u:a"] == b"<p>new</p>"
    assert kept["u:b"] == b"<p>same ts but longer</p>"
    assert len(kept) == 3
    # and extraction after dedup yields one row per url
    out = extract(keep_latest_snapshot(df))
    assert out.count() == 3


def test_duplicate_urls_are_not_merged(spark):
    """extract() emits one row per INPUT row: url-duplicate input gives
    duplicate output rows (dedup is keep_latest_snapshot's job)."""
    df = spark.createDataFrame(
        [("u:dup", b"<p>first</p>"), ("u:dup", b"<p>second</p>")],
        "url string, html binary",
    )
    rows = extract(df).collect()
    assert [r.url for r in rows] == ["u:dup", "u:dup"]
    assert sorted(r.text for r in rows) == ["first", "second"]


def test_titles_extracted(result):
    htmls = result.filter(F.col("content_type") == "html")
    assert htmls.filter(F.col("title") == "synthetic page").count() == htmls.count()
    # degenerate payloads have no title
    assert (
        result.filter(F.col("status") == "rejected_unparseable")
        .filter(F.col("title").isNotNull())
        .count()
        == 0
    )


def test_rejected_rows_carry_reasons(result):
    errs = result.filter(F.col("status").startswith("rejected")).select("error")
    assert all(r.error for r in errs.collect())


def test_multistream_pdfs_extract_byte_identical(result):
    ms = result.filter(
        (F.col("doc_class") == "pdf_multistream")
        & (F.col("status") == "succeeded")
    )
    assert ms.count() > 0
    assert ms.filter(F.col("text") != F.col("expected_text")).count() == 0


def test_unparseable_content_is_succeeded_empty_not_silent(spark):
    # a PDF whose single content stream is undecodable (bad Flate data):
    # page count parses, text does not -> succeeded_empty, never a silent
    # 'succeeded' with empty text
    bad = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 15 /Filter /FlateDecode >>\n"
        b"stream\n\x01\x02 not zlib x\nendstream\nendobj\n"
    )
    df = spark.createDataFrame(
        [("pdf://bad-stream", bad)], "url string, html binary"
    )
    row = extract(df).first()
    assert row.status == "succeeded_empty"
    assert row.text == ""


def test_raster_metadata_classes_extract(result):
    for cls in ("png_text", "jpeg_com"):
        rows = result.filter(F.col("doc_class") == cls)
        assert rows.count() > 0, cls
        ok = rows.filter(F.col("status") == "succeeded")
        assert ok.count() == rows.count(), cls
        assert ok.filter(F.col("text") != F.col("expected_text")).count() == 0, cls
    # magic-only png stays a no-op
    noop = result.filter(F.col("doc_class") == "png")
    assert noop.filter(F.col("status") != "succeeded_noop").count() == 0


def test_encrypted_pdf_is_typed_rejection(spark):
    enc = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 12 >>\nstream\n\x8a\x91\x22\x01 enc blob\nendstream\nendobj\n"
        b"5 0 obj\n<< /Filter /Standard /V 2 >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n"
    )
    row = extract(
        spark.createDataFrame([("pdf://enc", enc)], "url string, html binary")
    ).first()
    assert row.status == "rejected_unparseable"
    assert "encrypted" in row.error


def test_mixed_fonts_with_lost_codes_is_succeeded_partial(spark):
    """A page where one font decodes and another provably loses text must
    surface as succeeded_partial — the emitted text is real but incomplete,
    so it is neither a silent 'succeeded' nor a text-carrying
    'succeeded_empty' (round-3 review finding)."""
    stream = (
        b"BT /F1 12 Tf 72 700 Td (readable) Tj"
        b" /F2 12 Tf 0 -20 Td <0041> Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /H >>\nendobj\n"
        b"6 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /C"
        b" /Encoding /Identity-H >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    row = extract(
        spark.createDataFrame([("pdf://mixed", pdf)], "url string, html binary")
    ).first()
    assert row.status == "succeeded_partial"
    assert row.text == "readable"  # the decoded part still flows through


def test_partial_beats_empty_at_doc_level(spark):
    """Page 1 decodes SOME text (partial), page 2 loses everything (empty):
    the document carries real text, so its status must be
    succeeded_partial — a string min() would pick succeeded_empty and
    mislabel a text-carrying doc as empty (round-3 review finding)."""
    s1 = (
        b"BT /F1 12 Tf 72 700 Td (kept) Tj"
        b" /F2 12 Tf 0 -20 Td <0041> Tj ET"
    )
    s2 = b"BT /F2 12 Tf 72 700 Td <0042> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(s1)).encode()
        + b" >>\nstream\n" + s1 + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /H >>\nendobj\n"
        b"6 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 8 0 R"
        b" /Resources << /Font << /F2 7 0 R >> >> >>\nendobj\n"
        b"7 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /C"
        b" /Encoding /Identity-H >>\nendobj\n"
        b"8 0 obj\n<< /Length " + str(len(s2)).encode()
        + b" >>\nstream\n" + s2 + b"\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    row = extract(
        spark.createDataFrame([("pdf://pe", pdf)], "url string, html binary")
    ).first()
    assert row.status == "succeeded_partial"
    assert row.text == "kept"


def test_pure_cjk_pdf_class_still_succeeds(spark):
    # latin-1 filtering of pure-CJK text must fall back to placeholder text
    # so pdf-class docs never silently become succeeded_empty (the status
    # oracle predicts 'succeeded' for the class)
    from pbx_ds_ocr_server_spark.corpus import make_pdf, pdf_pages_for

    pages = pdf_pages_for("中文 文本 只有 中文", 2)
    pdf = make_pdf(pages)
    row = extract(
        spark.createDataFrame([("pdf://cjk", pdf)], "url string, html binary")
    ).first()
    assert row.status == "succeeded" and row.text != ""


@pytest.mark.parametrize(
    "run, text_col",
    [(extract, "text"), (extract_pages, "page_text")],
    ids=["extract", "extract_pages"],
)
def test_registered_cid_tables_reach_spark_workers(spark, run, text_col):
    """Round-7 review finding: CID-table registration is a DRIVER-process
    module global, but mapInPandas runs in fresh worker interpreters —
    without the snapshot-into-closure replay the deploy seam would work
    in direct kernel calls yet silently do nothing through the real
    Spark path. Registration here happens ONLY driver-side; the worker
    must see it via the closure, through both entry points."""
    from tests.test_pdf_kernel import _cid_latin_pdf
    from pbx_ds_ocr_server_spark.kernels.pdf_fonts import (
        register_cid_table,
        unregister_cid_table,
    )

    df = spark.createDataFrame(
        [("pdf://cid-closure", _cid_latin_pdf("abc中"))],
        "url string, html binary",
    )
    register_cid_table(b"Japan1", {0x2710: "中"})
    try:
        row = run(df).first()
        assert row.status == "succeeded"
        assert row[text_col] == "abc中"
    finally:
        unregister_cid_table(b"Japan1")
    # seam removed at plan time -> honest partial through the same path
    row = run(df).first()
    assert row.status == "succeeded_partial"
    assert row[text_col] == "abc"
