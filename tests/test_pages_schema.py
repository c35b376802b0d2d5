"""Every pages source emits ``schemas.PAGES_SCHEMA``: the same names,
types and nullability (url non-nullable), so the extraction job, the
bucketed writer and the resume anti-join see one input table whatever
produced it."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import cli, corpus, session
from pdf_extractor_spark.io import read_pages, read_result
from pdf_extractor_spark.schemas import PAGES_SCHEMA
from pdf_extractor_spark.sources.payload import pages_from_binary_files
from pdf_extractor_spark.sources.testdata import pages_from_documents
from pdf_extractor_spark.sources.warc import pages_from_warc
from pdf_extractor_spark.streaming.pipeline import stream_warc_pages


def _warc_dir(tmp_path, rows, head=b""):
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg-0.warc.gz").write_bytes(head + corpus.rows_to_warc(rows))
    return str(d)


def test_warc_sources_emit_pages_schema(spark, tmp_path):
    d = _warc_dir(tmp_path, corpus.build_pages_rows(3, 1))
    assert pages_from_warc(spark, d).schema == PAGES_SCHEMA
    assert stream_warc_pages(spark, d).schema == PAGES_SCHEMA  # not started


def test_synthetic_and_testdata_sources_emit_pages_schema(spark):
    assert corpus.distributed_pages(spark, 4).schema == PAGES_SCHEMA
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, None, None)], "doc_id long, text string, lang string"
    )
    for kind, path in (("spandoc", "doc"), ("html", "page")):
        pages = pages_from_documents(docs, kind=kind)
        assert pages.schema == PAGES_SCHEMA
        rows = sorted(pages.collect())
        assert [r.url for r in rows] == [f"https://testdata.local/{path}/{i:08d}" for i in (1, 2)]
        assert {str(r.warc_ts) for r in rows} == {"2025-01-01 00:00:00"}


def test_binary_files_source_matches_pages_names_and_types(spark, tmp_path):
    """Spark's binaryFile source reports ``path`` as nullable, so only
    the names, their order and the types are PAGES_SCHEMA's."""
    (tmp_path / "a.pdf").write_bytes(b"%PDF-1.4\n%%EOF\n")
    pages = pages_from_binary_files(spark, str(tmp_path))
    assert [(f.name, f.dataType) for f in pages.schema] == [
        (f.name, f.dataType) for f in PAGES_SCHEMA
    ]


def test_response_without_target_uri_is_dropped(spark, tmp_path):
    """A record with no url must never reach the non-nullable url
    column: that would fail the task instead of dropping the record."""
    rows = corpus.build_pages_rows(3, 2)
    orphan = corpus.rows_to_warc(rows[1:2], member_gzip=False)
    orphan = orphan.replace(b"WARC-Target-URI: %s\r\n" % rows[1]["url"].encode(), b"")
    assert b"WARC-Target-URI" not in orphan
    archive = corpus.rows_to_warc(rows[:1]) + gzip.compress(orphan, mtime=0)
    got = pages_from_warc(spark, _warc_dir(tmp_path, rows[2:], archive)).collect()
    assert sorted(r.url for r in got) == sorted([rows[0]["url"], rows[2]["url"]])


def test_cli_input_without_html_raises_before_any_spark_job(spark, tmp_path):
    bad = str(tmp_path / "bad")
    spark.createDataFrame([("u1", "t")], "url string, text string").write.parquet(bad)
    sc = spark.sparkContext
    sc.setJobGroup("pages-no-html", "pages-no-html")
    try:
        with pytest.raises(ValueError, match=f"{bad}: column 'html' must be BINARY"):
            cli.main(["--input", bad, "--output", str(tmp_path / "out")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("pages-no-html")) == []


def test_input_with_extra_column_yields_the_same_rows(spark, tmp_path):
    pages = corpus.distributed_pages(spark, 24, seed=3)
    tables = []
    for name, df in (("plain", pages), ("extra", pages.withColumn("crawl_id", F.lit(7)))):
        df.write.parquet(str(tmp_path / name))
        assert read_pages(spark, str(tmp_path / name)).columns == PAGES_SCHEMA.names
        out = str(tmp_path / f"out_{name}")
        cli.run_job(spark, input=str(tmp_path / name), output=out, buckets=4)
        tables.append(sorted(read_result(spark, out).collect()))
    assert len(tables[0]) == 24
    assert tables[0] == tables[1]


def test_input_dir_without_data_file_raises(spark, tmp_path):
    (tmp_path / "empty").mkdir()
    with pytest.raises(ValueError, match="no data file"):
        cli.run_job(spark, input=str(tmp_path / "empty"), output=str(tmp_path / "out"))


def test_cli_takes_exactly_one_pages_source(spark, tmp_path, capsys):
    """A second source was ignored: --input won over --input-warc, and
    --synthesize over --input."""
    pages = str(tmp_path / "pages")
    corpus.distributed_pages(spark, 8).write.parquet(pages)
    warc = _warc_dir(tmp_path, corpus.build_pages_rows(3, 1))
    out = ["--output", str(tmp_path / "out")]
    for sources in (["--input", pages, "--input-warc", warc], ["--input", pages, "--synthesize", "8"], []):
        with pytest.raises(SystemExit) as exit_info:
            cli.main(sources + out)
        assert exit_info.value.code == 2
        assert "need exactly one of --input, --input-warc, or --synthesize" in capsys.readouterr().err


def test_cli_rejects_two_sources_before_starting_spark(monkeypatch, tmp_path, capsys):
    def no_spark(*_args, **_kwargs):
        raise AssertionError("get_spark called for a usage error")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exit_info:
        cli.main(["--input", str(tmp_path / "pages"), "--synthesize", "5", "--output", str(tmp_path / "out")])
    assert exit_info.value.code == 2
    assert "need exactly one of --input, --input-warc, or --synthesize" in capsys.readouterr().err
