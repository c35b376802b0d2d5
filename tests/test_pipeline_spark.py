"""End-to-end Spark byte-identity: pages table → extract_pages →
outline_json equals the oracle's JSON bytes per url.

Covers the S4 failure semantics (corrupt payloads → parse_ok=false,
no reference output) and the HTML branch's plumbing.
"""

from __future__ import annotations

import random

import pytest

import refimpl
from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators.extract import extract_pages
from pdf_extractor_spark.schemas import PAGES_SCHEMA


@pytest.fixture(scope="module")
def result_rows(spark):
    rows = corpus.build_pages_rows(150, seed=99, html_fraction=0.25)
    pages_df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = extract_pages(pages_df).collect()
    return rows, {r["url"]: r for r in out}


def test_every_input_row_has_a_result_row(result_rows):
    rows, by_url = result_rows
    assert len(by_url) == len(rows)


def test_spandoc_byte_identity(result_rows):
    rows, by_url = result_rows
    n_checked = 0
    for row in rows:
        payload = row["html"]
        if not payload.startswith(corpus.SPANDOC_MAGIC):
            continue
        pages = corpus.payload_to_spandoc(payload)
        expected = refimpl.extract_document(pages)
        got = by_url[row["url"]]
        if expected is None:
            assert not got["parse_ok"]
            assert got["outline_json"] is None
        else:
            assert got["parse_ok"], got["error"]
            assert got["outline_json"] == refimpl.render_json(expected), row["url"]
            n_checked += 1
    assert n_checked > 50


def test_failure_semantics(result_rows):
    rows, by_url = result_rows
    bad = [r for r in rows if r["html"].startswith(b"GARBAGE")]
    assert bad, "corpus should contain corrupt payloads"
    for r in bad:
        got = by_url[r["url"]]
        assert not got["parse_ok"]
        assert got["error"] is not None
        assert got["payload_kind"] == "unknown"


def test_html_rows_extracted(result_rows):
    rows, by_url = result_rows
    html_rows = [r for r in rows if r["html"].lstrip()[:2] == b"<!"]
    assert html_rows
    for r in html_rows:
        got = by_url[r["url"]]
        assert got["parse_ok"]
        assert got["payload_kind"] == "html"
        assert got["main_text"]  # boilerplate stripped but content kept
        assert "©" not in (got["main_text"] or "")  # footer dropped
        assert "var x" not in (got["main_text"] or "")  # script dropped


def test_keep_failed_false_filters(spark):
    rows = corpus.build_pages_rows(40, seed=3, html_fraction=0.0)
    pages_df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    kept = extract_pages(pages_df, keep_failed=False)
    assert kept.filter(~kept.parse_ok).count() == 0


def test_binary_file_source_s1_parity(spark, tmp_path):
    """S1: directory scan with case-insensitive *.pdf filter via the
    binaryFile source; extraction over scanned files matches direct
    payload extraction."""
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.operators.extract import extract_pages
    from pdf_extractor_spark.sources.payload import pages_from_binary_files

    d = tmp_path / "input"
    d.mkdir()
    payloads = {}
    for i, ext in zip(range(6), ["pdf", "PDF", "pdf", "Pdf", "txt", "pdf"]):
        pages = corpus.random_spandoc(__import__("random").Random(1000 + i))
        raw = corpus.spandoc_to_payload(pages)
        (d / f"doc{i}.{ext}").write_bytes(raw)
        if ext.lower() == "pdf":
            payloads[f"doc{i}.{ext}"] = raw

    scanned = pages_from_binary_files(spark, str(d))
    got = {r["url"].rsplit("/", 1)[-1]: r for r in extract_pages(scanned).collect()}
    assert set(got) == set(payloads)  # .txt excluded, case-insensitive .pdf kept
    # equivalence with direct extraction on the same bytes
    import pandas as pd
    from pdf_extractor_spark.operators.extract import _process_batch

    direct = _process_batch(
        pd.DataFrame({"url": list(payloads), "html": list(payloads.values())})
    )
    for name, row in zip(direct["url"], direct["outline_json"]):
        assert got[name]["outline_json"] == row
