"""Round-3 hardening tests: ADVICE.md (r2) findings + new surfaces.

Each test pins a specific fix:
  - write_json_files must disambiguate colliding url basenames and
    report rows written, not stale listdir contents
  - lsh_buckets with explicit dims must fail loudly on a vector whose
    length mismatches (round 2 silently corrupted buckets to all-zero)
  - batch_cosine_topk must name missing query ids instead of silently
    dropping them (or raising an opaque matmul shape error)
  - multicol_reading_order must honor a per-document page_width column
    (A4 vs letter) rather than a constant 612
  - pdf_parse_stats ground truth: the generator's line plan equals the
    parser's output exactly (construction-vs-parse)
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F


def test_json_sink_collision_and_count(spark, tmp_path):
    from pdf_extractor_spark.io import write_json_files

    out = tmp_path / "sink"
    out.mkdir()
    (out / "stale.json").write_text("{}")  # must not inflate the count
    rows = [
        ("https://a.com/report.pdf", '{"a": 1}', True),
        ("https://b.com/report.pdf", '{"b": 2}', True),
        ("https://c.com/unique.pdf", '{"c": 3}', True),
        ("https://d.com/failed.pdf", None, False),
    ]
    df = spark.createDataFrame(rows, "url string, outline_json string, parse_ok boolean")
    n = write_json_files(df, str(out))
    assert n == 3  # rows actually written, stale.json not counted
    files = sorted(p.name for p in out.glob("*.json"))
    # colliding report.pdf stems got hash suffixes; unique kept its stem
    assert "unique.json" in files
    report_files = [f for f in files if f.startswith("report-")]
    assert len(report_files) == 2 and len(set(report_files)) == 2
    assert "report.json" not in files
    # contents are intact under the disambiguated names
    payloads = {json.loads((out / f).read_text())["a" if "a" in (out / f).read_text() else "b"] for f in report_files}
    assert payloads == {1, 2}


def test_json_sink_no_collision_keeps_reference_names(spark, tmp_path):
    from pdf_extractor_spark.io import write_json_files

    out = tmp_path / "sink2"
    rows = [("https://x.com/file01.pdf", '{"x": 1}', True)]
    df = spark.createDataFrame(rows, "url string, outline_json string, parse_ok boolean")
    assert write_json_files(df, str(out)) == 1
    assert (out / "file01.json").exists()  # reference S5 name shape


def test_lsh_buckets_dims_mismatch_raises(spark):
    from pdf_extractor_spark.operators.similarity import lsh_buckets

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0])],  # second vec is short
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="lsh_buckets"):
        lsh_buckets(df, n_bits=4, dims=4).collect()
    # matching dims still work
    ok = spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>")
    assert lsh_buckets(ok, n_bits=4, dims=4).count() == 1


def test_batch_topk_missing_query_ids_raise(spark, sf_dir):
    from pdf_extractor_spark.operators.similarity import batch_cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="999999"):
        batch_cosine_topk(emb, query_vec_ids=[0, 999999], k=5)


def test_multicol_reading_order_uses_page_width_column(spark):
    from pdf_extractor_spark.operators.layout import multicol_reading_order

    # block at x0=280: on A4 (595pt, boundary 297.5) it is column 0;
    # with the constant-612 boundary (306) it would also be col 0 —
    # so use x0=300: A4 → col 1, letter → col 0.
    rows = [
        (1, 0, 0, 300.0, 100.0, 595.0),
        (1, 0, 1, 300.0, 100.0, 612.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, page_num int, block_idx int, x0 double, y0 double, page_width double"
    )
    got = {r["block_idx"]: r["col_idx"] for r in multicol_reading_order(df).collect()}
    assert got[0] == 1  # A4: 300 >= 297.5 → right column
    assert got[1] == 0  # letter: 300 < 306 → left column
    # width-less tables still use the scalar fallback
    df2 = df.drop("page_width")
    got2 = {r["block_idx"]: r["col_idx"] for r in multicol_reading_order(df2).collect()}
    assert got2 == {0: 0, 1: 0}


def test_pdf_plan_is_generator_ground_truth():
    """pdf_plan must be exactly what random_pdf embeds — parse each
    generated PDF and compare text/size/page structure span-for-span."""
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.sources import pdfparse

    for i in range(120):
        plan = corpus.pdf_plan(random.Random(5_000 + i))
        pdf = corpus.random_pdf(random.Random(5_000 + i))
        pages = pdfparse.extract_spans(pdf)
        got = [
            (sp["text"], sp["size"])
            for pg in pages
            for blk in pg["blocks"]
            for line in blk
            for sp in line
        ]
        want = [(t, s) for pl in plan for (_y, s, t) in pl]
        assert len(pages) == len(plan)
        assert got == want


def test_pdf_truth_stats_matches_spark_query(spark):
    """The pdf_parse_stats driver row end-to-end at small n: Spark
    aggregate == generator ground truth."""
    import hashlib

    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.plans.queries import QUERIES

    out = {r["url"]: r for r in QUERIES["pdf_parse_stats"](spark, "unused").collect()}
    for i in (0, 17, 123, 299):
        want = corpus.pdf_truth_stats(i)
        got = out[want["url"]]
        assert got["n_pages"] == want["n_pages"]
        assert got["n_spans"] == want["n_spans"]
        assert got["content_md5"] == want["content_md5"]


def test_lineage_error_classes(spark, tmp_path):
    """Per-error-class failure counts in the manifest: corrupt payloads
    and empty spandocs land in distinct classes on both write paths."""
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.io import write_result

    rows = corpus.build_pages_rows(90, seed=3)  # includes i%41==7 corrupt docs
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    from pdf_extractor_spark.operators.extract import extract_pages

    out = extract_pages(df)
    stats = write_result(out, str(tmp_path / "r1"))
    assert stats["parse_failures"] > 0
    assert sum(stats["error_classes"].values()) == stats["parse_failures"]
    assert any(k.startswith("unsupported_payload") for k in stats["error_classes"])
    manifest = json.loads((tmp_path / "r1" / "_lineage" / "manifest.json").read_text())
    assert manifest["error_classes"] == stats["error_classes"]


def test_quality_repetition_signals(spark):
    """Gopher-style repetition: top_word_frac / top_bigram_frac are the
    most-frequent n-gram's share of all n-grams (Rae et al. 2021)."""
    from pdf_extractor_spark.operators.textstats import quality_features

    rows = [
        # words: [a a a b] -> top word a:3/4; bigrams: "a a","a a","a b" -> 2/3
        (1, "a a a b"),
        # single word: no bigrams -> 0.0; top word 1/1
        (2, "solo"),
        # empty text -> no words at all -> both 0.0
        (3, ""),
        # all distinct: [x y z] -> top word 1/3; bigrams "x y","y z" -> 1/2
        (4, "x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["top_word_frac"], r["top_bigram_frac"])
        for r in quality_features(df).collect()
    }
    assert got[1] == (3 / 4, 2 / 3)
    assert got[2] == (1.0, 0.0)
    assert got[3] == (0.0, 0.0)
    assert got[4] == (1 / 3, 1 / 2)
