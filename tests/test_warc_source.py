"""WARC ingest edge (sources/warc.py): Common-Crawl-style archives →
the canonical pages table. Expectations are construction truth —
corpus.rows_to_warc writes records with known urls/timestamps/payloads,
so the reader must return exactly those rows."""

from __future__ import annotations

import gzip
import warnings
from datetime import datetime

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark import corpus
from pdf_extractor_spark.sources.warc import (
    _warc_timestamps,
    http_response_body,
    iter_warc_records,
    pages_from_warc,
)


@pytest.fixture(scope="module")
def spark():
    from pdf_extractor_spark.session import get_spark

    return get_spark("test_warc", shuffle_partitions=8)


def _rows(n=40, seed=5):
    return corpus.build_pages_rows(n, seed)


class TestRecordIteration:
    def test_roundtrip_member_gzip(self):
        rows = _rows()
        data = corpus.rows_to_warc(rows, member_gzip=True)
        recs = list(iter_warc_records(data))
        assert len(recs) == len(rows)
        for (hdr, block), row in zip(recs, rows):
            assert hdr["warc-type"] == "response"
            assert hdr["warc-target-uri"] == row["url"]
            assert http_response_body(block) == row["html"]

    def test_roundtrip_plain_warc(self):
        rows = _rows(10)
        data = corpus.rows_to_warc(rows, member_gzip=False)
        recs = list(iter_warc_records(data))
        assert [h["warc-target-uri"] for h, _ in recs] == [r["url"] for r in rows]

    def test_deterministic_bytes(self):
        rows = _rows(5)
        assert corpus.rows_to_warc(rows) == corpus.rows_to_warc(rows)

    def test_truncated_final_record_yields_prefix(self):
        rows = _rows(10)
        data = corpus.rows_to_warc(rows, member_gzip=False)
        cut = data[: len(data) - len(rows[-1]["html"]) - 10]
        recs = list(iter_warc_records(cut))
        assert len(recs) == 9  # last record dropped, rest intact
        assert http_response_body(recs[8][1]) == rows[8]["html"]

    def test_truncated_gzip_member_keeps_decoded_prefix(self):
        rows = _rows(6)
        data = corpus.rows_to_warc(rows, member_gzip=True)
        recs = list(iter_warc_records(data[:-40]))
        assert len(recs) >= 4

    def test_overstated_content_length_recovers_following_records(self):
        """A Content-Length overshooting into the next record must not
        swallow it: the lying record is truncated at the in-block
        record boundary and the rest of the archive survives."""
        rows = _rows(4)
        recs = [corpus.rows_to_warc([r], member_gzip=False) for r in rows]
        # inflate record 0's Content-Length so it overshoots into the
        # middle of record 1's headers (a corrupted digit — unaligned;
        # a lie landing EXACTLY on a record boundary is undetectable by
        # any boundary heuristic and out of scope)
        first = recs[0]
        true_len = int(first.split(b"Content-Length: ")[1].split(b"\r\n")[0])
        lied = first.replace(
            b"Content-Length: %d" % true_len,
            b"Content-Length: %d" % (true_len + 37),
            1,
        )
        got = list(iter_warc_records(lied + b"".join(recs[1:])))
        assert [h["warc-target-uri"] for h, _ in got] == [r["url"] for r in rows]
        for (h, block), row in zip(got[1:], rows[1:]):
            assert http_response_body(block) == row["html"]

    def test_past_eof_content_length_drops_only_lying_record(self):
        rows = _rows(3)
        recs = [corpus.rows_to_warc([r], member_gzip=False) for r in rows]
        lied = recs[0].replace(b"Content-Length: ", b"Content-Length: 9", 1)
        got = list(iter_warc_records(lied + recs[1] + recs[2]))
        assert [h["warc-target-uri"] for h, _ in got] == [r["url"] for r in rows[1:]]

    def test_negative_content_length_terminates_and_resyncs(self):
        """A negative Content-Length must not move the scan position
        backward: pre-fix, `-1000` re-found the SAME record forever —
        an infinite generator that would hang an executor task on a
        crafted archive. The liar is dropped; the archive survives."""
        good = corpus.rows_to_warc(_rows(2), member_gzip=False)
        bad = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://x/\r\nContent-Length: -1000\r\n\r\n"
            b"somebody\r\n\r\n"
        )
        recs = list(iter_warc_records(bad + good))
        assert len(recs) == 2

    def test_negative_chunk_size_terminates(self):
        """Corrupt chunked body with a negative hex size: `-6` made
        _dechunk's position arithmetic land back on the same size line
        forever (pre-fix hang). Must terminate and keep prior chunks."""
        from pdf_extractor_spark.sources.warc import _dechunk

        assert _dechunk(b"3\r\nABC\r\n-6\r\nDEF\r\n0\r\n\r\n") == b"ABC"
        assert _dechunk(b"-6\r\nABCDEF\r\n0\r\n\r\n") == b""

    def test_bad_content_length_resyncs(self):
        good = corpus.rows_to_warc(_rows(3), member_gzip=False)
        bad = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://x/\r\nContent-Length: oops\r\n\r\n"
        )
        recs = list(iter_warc_records(bad + good))
        assert len(recs) == 3  # skips the liar, finds the next magic


class TestHttpBody:
    def test_chunked_transfer_encoding(self):
        body = b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
        block = (
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + body
        )
        assert http_response_body(block) == b"hello world"

    def test_gzip_content_encoding(self):
        payload = b"<html>compressed</html>"
        gz = gzip.compress(payload)
        block = (
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            b"Content-Length: %d\r\n\r\n" % len(gz)
        ) + gz
        assert http_response_body(block) == payload

    def test_non_http_block_returned_whole(self):
        assert http_response_body(b"raw resource bytes") == b"raw resource bytes"

    def test_undecodable_gzip_returns_none(self):
        block = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
        assert http_response_body(block) is None

    def test_encoding_tokens_outside_their_headers_ignored(self):
        """'gzip'/'chunked' appearing in OTHER headers (Content-Type:
        application/x-gzip, Via: proxy (gzip)) must not trigger
        decoding of an identity body."""
        payload = b"\x1f\x8bnot really a member"  # gzip magic, raw body
        block = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: application/x-gzip\r\n"
            b"Via: 1.1 proxy (gzip)\r\n"
            b"X-Note: response was chunked upstream\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)
        ) + payload
        assert http_response_body(block) == payload


class TestSparkSource:
    def test_pages_from_warc_matches_parquet_rows(self, spark, tmp_path):
        """Two .warc.gz archives → DataFrame identical (url, warc_ts,
        payload) to the source rows; non-page records skipped."""
        rows = _rows(40)
        (tmp_path / "seg0.warc.gz").write_bytes(corpus.rows_to_warc(rows[:25]))
        (tmp_path / "seg1.warc.gz").write_bytes(corpus.rows_to_warc(rows[25:]))
        warcinfo = (
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
        )
        (tmp_path / "seg2.warc.gz").write_bytes(gzip.compress(warcinfo, mtime=0))

        df = pages_from_warc(spark, str(tmp_path))
        assert df.schema.simpleString() == (
            "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
        )
        got = {r["url"]: r for r in df.collect()}
        assert len(got) == 40
        for row in rows:
            g = got[row["url"]]
            assert bytes(g["html"]) == row["html"]
            assert g["warc_ts"] == row["warc_ts"].replace(microsecond=0, tzinfo=None)

    def test_streaming_warc_ingest_checkpoint_resume(self, spark, tmp_path):
        """Landing-dir stream: archives arriving between runs are
        picked up exactly once (file-source checkpoint), producing the
        same committed table a batch run over all archives would."""
        from pdf_extractor_spark.streaming.pipeline import (
            stream_extract,
            stream_warc_pages,
        )

        land = tmp_path / "landing"
        land.mkdir()
        out = str(tmp_path / "result")
        ckpt = str(tmp_path / "ckpt")
        rows = _rows(60, seed=13)
        (land / "s0.warc.gz").write_bytes(corpus.rows_to_warc(rows[:20]))
        (land / "s1.warc.gz").write_bytes(corpus.rows_to_warc(rows[20:40]))

        q = stream_extract(stream_warc_pages(spark, str(land)), out, ckpt, n_buckets=4)
        q.awaitTermination()
        first = spark.read.parquet(out + "/result").count()

        (land / "s2.warc.gz").write_bytes(corpus.rows_to_warc(rows[40:]))
        q = stream_extract(stream_warc_pages(spark, str(land)), out, ckpt, n_buckets=4)
        q.awaitTermination()
        res = spark.read.parquet(out + "/result")
        ok_urls = [r["url"] for r in res.filter("ok = 1").select("url").collect()]
        assert len(ok_urls) == len(set(ok_urls))  # no re-extraction of s0/s1
        assert res.count() - first > 0
        # parity with the batch path over the full landing dir
        batch_ok = (
            pages_from_warc(spark, str(land))
            .selectExpr("url")
            .distinct()
            .count()
        )
        assert res.select("url").distinct().count() == batch_ok

    def test_warc_to_extraction_end_to_end(self, spark, tmp_path):
        """WARC ingest feeds the production extraction unchanged: same
        outline_json per url as the parquet path."""
        from pdf_extractor_spark.operators.extract import extract_pages

        rows = _rows(30, seed=9)
        (tmp_path / "a.warc.gz").write_bytes(corpus.rows_to_warc(rows))
        via_warc = {
            r["url"]: r["outline_json"]
            for r in extract_pages(pages_from_warc(spark, str(tmp_path)))
            .filter("parse_ok")
            .select("url", "outline_json")
            .collect()
        }
        direct_df = spark.createDataFrame(
            [(r["url"], r["html"]) for r in rows], "url string, html binary"
        )
        direct = {
            r["url"]: r["outline_json"]
            for r in extract_pages(direct_df)
            .filter("parse_ok")
            .select("url", "outline_json")
            .collect()
        }
        assert via_warc == direct and len(via_warc) > 20


class TestMissingHeaders:
    def test_record_without_warc_date_yields_null_ts(self, spark, tmp_path):
        """A response record missing WARC-Date must become a row with a
        NULL warc_ts — not kill the task (pd.to_datetime(None,
        errors='coerce') returns None, whose .tz_localize the old code
        called; found by the streaming kill-fuzz soak)."""
        payload = b"hello"
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n" % len(payload)
        ) + payload
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: https://x.example.com/nodate\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: %d\r\n\r\n" % len(http)
        ) + http + b"\r\n\r\n"
        (tmp_path / "nodate.warc").write_bytes(rec)
        rows = pages_from_warc(spark, str(tmp_path)).collect()
        assert len(rows) == 1
        assert rows[0]["url"] == "https://x.example.com/nodate"
        assert rows[0]["warc_ts"] is None
        assert bytes(rows[0]["html"]) == payload


def _per_record_ts(raw):
    """The per-record WARC-Date parse that _warc_timestamps batches."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # "could not infer format"
        ts = pd.to_datetime(raw, errors="coerce", utc=True) if raw else None
    return None if ts is None or ts is pd.NaT else ts.tz_localize(None)


_offsets = st.integers(-14 * 60, 14 * 60).map(
    lambda m: "%s%02d:%02d" % ("-" if m < 0 else "+", abs(m) // 60, abs(m) % 60)
)
_when = st.datetimes(min_value=datetime(1000, 1, 1), max_value=datetime(9999, 12, 31))
_warc_dates = st.one_of(
    st.none(),  # header missing
    st.just(""),
    _when.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%SZ")),
    st.tuples(_when, _offsets).map(lambda t: t[0].strftime("%Y-%m-%dT%H:%M:%S") + t[1]),
    st.tuples(_when, st.text("0123456789", min_size=1, max_size=9)).map(
        lambda t: t[0].strftime("%Y-%m-%dT%H:%M:%S.") + t[1] + "Z"  # fractional seconds
    ),
    _when.map(lambda d: d.strftime("%Y-%m-%d")),  # date only
    _when.map(lambda d: d.strftime("%a, %d %b %Y %H:%M:%S GMT")),  # RFC 1123
    st.text(max_size=30),  # garbage
)


class TestWarcDateBatchParse:
    @settings(max_examples=300, deadline=None)
    @given(st.lists(_warc_dates, max_size=12))
    def test_batch_parse_matches_per_record(self, raw):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            got = _warc_timestamps(raw)
        want = [_per_record_ts(v) for v in raw]
        assert [type(v) for v in got] == [type(v) for v in want]
        assert got == want

    def test_named_cases(self):
        raw = [
            None,
            "2024-01-02T03:04:05Z",
            "2024-01-02T03:04:05+02:00",
            "2024-01-02T03:04:05.123456Z",
            "2024-01-02",
            "2300-01-01T00:00:00Z",
            "Tue, 15 Nov 1994 08:12:31 GMT",
            "garbage",
        ]
        assert _warc_timestamps(raw) == [
            None,
            pd.Timestamp("2024-01-02 03:04:05"),
            pd.Timestamp("2024-01-02 01:04:05"),
            pd.Timestamp("2024-01-02 03:04:05.123456"),
            pd.Timestamp("2024-01-02"),
            None,  # past 2262: out of nanosecond range
            pd.Timestamp("1994-11-15 08:12:31"),
            None,
        ]
