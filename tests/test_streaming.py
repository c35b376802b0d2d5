"""Structured Streaming execution-path tests.

The transformations themselves are oracle-checked in batch mode via
the query registry; here we prove the STREAMING execution works: file
source → watermark → availableNow trigger → (foreachBatch commit |
memory sink), with the batch run of the same plan as the oracle.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import pytest

from pdf_extractor_spark import corpus
from pdf_extractor_spark import io as pio
from pdf_extractor_spark.schemas import PAGES_SCHEMA
from pdf_extractor_spark.streaming import pipeline as STRM


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("pages", "out", "ckpt")}
    yield d
    shutil.rmtree(tmp_path, ignore_errors=True)


def _write_pages(spark, path: str, n: int, seed: int, files: int) -> None:
    rows = corpus.build_pages_rows(n, seed=seed)
    spark.createDataFrame(rows, schema=PAGES_SCHEMA).repartition(files).write.mode(
        "overwrite"
    ).parquet(path)


def test_stream_extract_matches_batch(spark, tmpdirs):
    _write_pages(spark, tmpdirs["pages"], 120, seed=5, files=6)

    stream = STRM.stream_pages(spark, tmpdirs["pages"], max_files=2)
    assert stream.isStreaming
    q = STRM.stream_extract(stream, tmpdirs["out"], tmpdirs["ckpt"], n_buckets=8)
    q.awaitTermination(300)

    got = pio.read_result(spark, tmpdirs["out"])
    from pdf_extractor_spark.operators.extract import extract_pages

    batch = extract_pages(spark.read.parquet(tmpdirs["pages"]), keep_failed=True)
    g = {r["url"]: r["outline_json"] for r in got.collect()}
    b = {r["url"]: r["outline_json"] for r in batch.collect()}
    assert g == b  # every url, byte-identical JSON, no dupes/misses

    # lineage manifest accumulated across micro-batches
    import json

    manifest = json.loads((Path(tmpdirs["out"]) / "_lineage" / "manifest.json").read_text())
    assert manifest["totals"]["rows_in"] == 120


def test_stream_extract_is_restartable(spark, tmpdirs):
    """Checkpoint + cumulative lineage: new files after a restart are
    processed exactly once."""
    _write_pages(spark, tmpdirs["pages"] + "/a", 40, seed=7, files=2)
    # file source watches a directory; write both rounds into it
    import os

    os.makedirs(tmpdirs["pages"], exist_ok=True)
    for f in Path(tmpdirs["pages"] + "/a").glob("*.parquet"):
        f.rename(Path(tmpdirs["pages"]) / f.name)

    stream = STRM.stream_pages(spark, tmpdirs["pages"])
    STRM.stream_extract(stream, tmpdirs["out"], tmpdirs["ckpt"], n_buckets=8).awaitTermination(300)

    _write_pages(spark, tmpdirs["pages"] + "/b", 80, seed=7, files=2)
    seen = {f.name for f in Path(tmpdirs["pages"]).glob("*.parquet")}
    for f in Path(tmpdirs["pages"] + "/b").glob("*.parquet"):
        f.rename(Path(tmpdirs["pages"]) / f"r2_{f.name}")

    stream2 = STRM.stream_pages(spark, tmpdirs["pages"])
    STRM.stream_extract(stream2, tmpdirs["out"], tmpdirs["ckpt"], n_buckets=8).awaitTermination(300)

    got = pio.read_result(spark, tmpdirs["out"]).collect()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls))
    # seed-7 corpora are prefixes of each other: 40-doc round ⊂ 80-doc round,
    # so distinct urls after both rounds = 80
    assert len(set(urls)) == 80


def test_stream_extract_resumes_after_first_offset_commit_crash(spark, tmpdirs):
    """A kill between the offset log's temp write and its rename leaves
    ``.0.<uuid>.tmp`` in ckpt/offsets with NO committed batch; Spark 4
    then classifies the restart as a NEW query and fails it with
    STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY — permanently, until
    someone hand-deletes the temp (fuzz_sweep --stream-warc seed
    987654, trial 13). stream_extract must self-heal that state."""
    import os

    _write_pages(spark, tmpdirs["pages"], 60, seed=11, files=3)

    # construct the crash debris exactly as HDFSMetadataLog leaves it
    offsets = Path(tmpdirs["ckpt"]) / "offsets"
    offsets.mkdir(parents=True)
    tmp = offsets / f".0.{uuid.uuid4()}.tmp"
    tmp.touch()
    # the batch-0 metadata file exists (written before the offset log)
    (Path(tmpdirs["ckpt"]) / "metadata").write_text('{"id":"' + str(uuid.uuid4()) + '"}')

    stream = STRM.stream_pages(spark, tmpdirs["pages"], max_files=2)
    q = STRM.stream_extract(stream, tmpdirs["out"], tmpdirs["ckpt"], n_buckets=8)
    q.awaitTermination(300)
    assert not tmp.exists()  # debris removed, not worked around

    got = pio.read_result(spark, tmpdirs["out"]).collect()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)) == 60  # drained, exactly once

    # committed metadata-log entries must survive sanitation: rerun over
    # the same checkpoint with a real offsets/0 present is a no-op
    from pdf_extractor_spark.streaming.pipeline import sanitize_checkpoint

    committed = {p.name for p in offsets.iterdir() if not p.name.startswith(".")}
    assert committed  # the drained run committed at least batch 0
    assert sanitize_checkpoint(spark, tmpdirs["ckpt"]) == 0
    assert {p.name for p in offsets.iterdir() if not p.name.startswith(".")} == committed
    assert os.path.isdir(tmpdirs["ckpt"])


def test_streaming_aggregations_run_with_watermark(spark, tmp_path):
    """windowed + session aggregations execute on a real stream (memory
    sink, availableNow) and agree with their batch twins."""
    ev_dir = str(tmp_path / "events")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.repartition(4).write.mode("overwrite").parquet(ev_dir)

    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 2).parquet(ev_dir)
    )
    for fn, name in (
        (STRM.windowed_event_counts, f"win_{uuid.uuid4().hex[:8]}"),
        (STRM.session_windows, f"sess_{uuid.uuid4().hex[:8]}"),
    ):
        q = (
            fn(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {tuple(r) for r in spark.table(name).collect()}
        want = {tuple(r) for r in fn(events).collect()}
        assert got == want
