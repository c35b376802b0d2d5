"""WARC ingest edge (sources/warc.py): Common-Crawl-style archives →
the canonical pages table. Expectations are construction truth —
corpus.rows_to_warc writes records with known urls/timestamps/payloads,
so the reader must return exactly those rows."""

from __future__ import annotations

import gzip
import random
import time
import warnings
from datetime import datetime
from functools import partial

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
    parse_content_batches,
)


@pytest.fixture(scope="module")
def spark():
    from pdf_extractor_spark.session import get_spark

    return get_spark("test_warc", shuffle_partitions=8)


def _rows(n=40, seed=5):
    return corpus.build_pages_rows(n, seed)


def _gzip_body_warc(bodies: list[bytes]) -> bytes:
    """A plain ``.warc`` with one response record per body, url
    ``https://gz.example.com/<i>``, each body sent as given under
    ``Content-Encoding: gzip``."""
    out = b""
    for i, body in enumerate(bodies):
        http = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\nContent-Length: %d\r\n\r\n" % len(body) + body
        out += (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://gz.example.com/%d\r\n"
            b"WARC-Date: 2020-01-01T00:00:00Z\r\nContent-Length: %d\r\n\r\n" % (i, len(http))
        ) + http + b"\r\n\r\n"
    return out


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

    def test_members_before_a_corrupt_member_survive(self):
        rows = _rows(3)
        members = [corpus.rows_to_warc([r], member_gzip=True) for r in rows]
        bad_header = bytearray(members[1])
        bad_header[2] = 7  # compression method: not deflate
        for data, n in ((b"".join(members) + b"trailing junk", 3), (members[0] + bytes(bad_header) + members[2], 1)):
            assert [h["warc-target-uri"] for h, _ in iter_warc_records(data)] == [r["url"] for r in rows[:n]]

    def test_many_gzip_members_decompress_in_linear_time(self):
        """20,000 members of ~660 bytes (13 MB): decompressing each
        member against a copy of the rest of the archive took ~10 s."""
        rng = random.Random(0)
        members = []
        for _ in range(20_000):
            body = rng.randbytes(600)
            record = b"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: %d\r\n\r\n" % len(body) + body
            members.append(gzip.compress(record + b"\r\n\r\n", compresslevel=1, mtime=0))
        data = b"".join(members)
        t0 = time.perf_counter()
        recs = list(iter_warc_records(data))
        elapsed = time.perf_counter() - t0
        assert len(recs) == 20_000
        assert elapsed < 3.0, elapsed

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

    def test_truncated_or_corrupt_gzip_body_returns_none(self):
        """gzip raises EOFError on a truncated member and zlib.error on
        corrupt deflate data; neither is an OSError."""
        gz = gzip.compress(b"<html>" + bytes(range(256)) * 8 + b"</html>", mtime=0)
        corrupt = gz[:10] + b"\xff" * 16 + gz[26:]
        for body in (gz[: len(gz) // 2], corrupt):
            (_hdr, block), = iter_warc_records(_gzip_body_warc([body]))
            assert http_response_body(block) is None

    def test_corrupt_gzip_body_drops_only_its_record(self):
        gz = gzip.compress(b"<html>ok</html>", mtime=0)
        archive = _gzip_body_warc([gz, gz[: len(gz) // 2], gz])
        (frame,) = parse_content_batches(
            iter([pd.DataFrame({"content": [archive]})]), max_rows=256, max_bytes=64 << 20
        )
        assert list(frame["url"]) == ["https://gz.example.com/0", "https://gz.example.com/2"]
        assert list(frame["html"]) == [b"<html>ok</html>"] * 2

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
        ok_urls = [r["url"] for r in res.filter("parse_ok").select("url").collect()]
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


def _map_in_pandas(df) -> int:
    """The number of MapInPandas nodes in ``df``'s analyzed plan."""
    return df._jdf.queryExecution().analyzed().toString().count("MapInPandas")


def _result_rows(df) -> list:
    return sorted(df.collect(), key=repr)


def _resource_warc(rows) -> bytes:
    """A plain ``.warc`` of ``resource`` records: the block is the
    payload itself, with no HTTP envelope."""
    out = b""
    for row in rows:
        payload = row["html"] or b""
        out += (
            b"WARC/1.0\r\nWARC-Type: resource\r\nWARC-Target-URI: %s\r\n"
            b"WARC-Date: 2021-06-01T12:00:00Z\r\nContent-Length: %d\r\n\r\n" % (row["url"].encode(), len(payload))
        ) + payload + b"\r\n\r\n"
    return out


def _corrupt_gzip_body_warc(rows) -> tuple[bytes, dict]:
    """Every third response outside the corrupt slice carries half of
    its gzip body: those records drop, the others decode. Returns the
    archive and the payload of each kept url."""
    cut = set([i for i, r in enumerate(rows) if not r["html"].startswith(b"GARBAGE")][::3])
    bodies = [gzip.compress(r["html"], mtime=0) for r in rows]
    archive = _gzip_body_warc([b[: len(b) // 2] if i in cut else b for i, b in enumerate(bodies)])
    return archive, {f"https://gz.example.com/{i}": r["html"] for i, r in enumerate(rows) if i not in cut}


def _all(rows) -> dict:
    return {r["url"]: r["html"] for r in rows}


# name → (file name, archive bytes, payload per url the archive yields)
# over construction-truth rows; the default corpus mixes spandoc, %PDF
# and HTML payloads with the corrupt slice (every 41st doc from the 8th)
_ARCHIVES = {
    "member_gzip": lambda rows: ("a.warc.gz", corpus.rows_to_warc(rows), _all(rows)),
    "whole_file_gzip": lambda rows: (
        "a.warc.gz",
        gzip.compress(corpus.rows_to_warc(rows, member_gzip=False), mtime=0),
        _all(rows),
    ),
    "plain": lambda rows: ("a.warc", corpus.rows_to_warc(rows, member_gzip=False), _all(rows)),
    "resource": lambda rows: ("a.warc", _resource_warc(rows), _all(rows)),
    "corrupt_gzip_body": lambda rows: ("a.warc", *_corrupt_gzip_body_warc(rows)),
}


class TestOneStageExtraction:
    """``extract_pages(pages_from_warc(d))`` parses and extracts in one
    Python stage; every other frame takes the pages columns through a
    second one. Both must give the same rows."""

    @pytest.mark.parametrize("kind", sorted(_ARCHIVES))
    def test_one_stage_equals_two_stage(self, spark, tmp_path, kind):
        from pdf_extractor_spark.operators.extract import extract_pages

        rows = corpus.build_pages_rows(90, seed=17)  # three corrupt docs
        name, data, kept = _ARCHIVES[kind](rows)
        (tmp_path / name).write_bytes(data)
        d = str(tmp_path)
        fused = extract_pages(pages_from_warc(spark, d))
        staged = extract_pages(pages_from_warc(spark, d).select("*"))
        assert (_map_in_pandas(fused), _map_in_pandas(staged)) == (1, 2)
        got = _result_rows(fused)
        assert got == _result_rows(staged)
        assert sorted(r.url for r in got) == sorted(kept)
        corrupt = {url for url, payload in kept.items() if payload.startswith(b"GARBAGE")}
        assert corrupt and corrupt <= {r.url for r in got if not r.parse_ok}

    def test_cached_frame_takes_two_stages(self, spark, tmp_path):
        from pdf_extractor_spark.operators.extract import extract_pages

        (tmp_path / "a.warc.gz").write_bytes(corpus.rows_to_warc(_rows(30, seed=4)))
        pages = pages_from_warc(spark, str(tmp_path))
        fused = _result_rows(extract_pages(pages))
        pages.cache()
        try:
            staged = extract_pages(pages)
            assert _map_in_pandas(staged) == 2
            assert _result_rows(staged) == fused
        finally:
            pages.unpersist()

    def test_batches_close_at_the_sessions_arrow_limits(self, spark, tmp_path, monkeypatch):
        """An archive of 600 records leaves the one stage, the parse
        stage of the two-stage frame and ``parse_content_batches`` in
        batches of at most the session's 256 rows; a smaller byte limit
        closes a batch after the payload that reaches it."""
        from pdf_extractor_spark.operators.extract import extract_pages
        from pdf_extractor_spark.session import arrow_batch_limits

        rows = corpus.build_pages_rows(600, seed=23)
        archive = corpus.rows_to_warc(rows)
        (tmp_path / "a.warc.gz").write_bytes(archive)

        def content():
            return iter([pd.DataFrame({"content": [archive]})])

        stages = []
        frame = type(spark.range(0))
        map_in_pandas = frame.mapInPandas

        def capture(self, fn, schema, *args, **kwargs):
            stages.append(fn)
            return map_in_pandas(self, fn, schema, *args, **kwargs)

        monkeypatch.setattr(frame, "mapInPandas", capture)
        pages = pages_from_warc(spark, str(tmp_path))
        (parse,) = stages
        fused = extract_pages(pages)
        staged = extract_pages(pages.select("*"))
        run = stages[1]
        assert (_map_in_pandas(fused), _map_in_pandas(staged)) == (1, 2)

        max_rows, max_bytes = arrow_batch_limits(spark)
        assert (max_rows, max_bytes) == (256, 64 << 20)
        direct = partial(parse_content_batches, max_rows=max_rows, max_bytes=max_bytes)
        for stage in (run, parse, direct):
            assert [len(b) for b in stage(content())] == [256, 256, 88]
        for stage in (run, parse, direct):
            left = [len(r["html"]) for r in rows]
            for batch in stage.func(content(), max_rows=256, max_bytes=50_000):
                n = len(batch)
                assert sum(left[: n - 1]) < 50_000
                assert sum(left[:n]) >= 50_000 or n in (256, len(left))
                left = left[n:]
            assert left == []
        assert fused.count() == staged.count() == 600


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
