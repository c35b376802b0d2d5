"""Round-5 batch kill-and-resume hardening.

Regression tests for defects found by the batch kill fuzz
(tools/fuzz_sweep.py --batch-kill): on-disk states a SIGKILLed /
cancelled batch job actually leaves behind, which the deterministic
truncate simulation in test_resume_truncate.py cannot create.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pdf_extractor_spark import io as eio
from pdf_extractor_spark.io import filter_pending, write_result


def _mk(spark, urls):
    return spark.createDataFrame(
        [(u, True, 100, None, '{"title": "t"}') for u in urls],
        "url string, parse_ok boolean, payload_bytes long, error string, outline_json string",
    )


# -- 1. layout probe vs kill debris ------------------------------------------


def test_layout_probe_ignores_empty_debris_bucket_dirs(tmp_path, spark):
    """A killed job leaves EMPTY bucket dirs (the committer mkdirs the
    destination before the per-file rename). The layout probe must not
    decide 'legacy bucket-only' from such a dir — that misclassification
    made the resumed append write bucket-only files into a bucket/ok
    table, after which every read failed with 'Conflicting directory
    structures' (table bricked until manual surgery)."""
    table = tmp_path / "result"
    (table / "bucket=7" / "ok=1").mkdir(parents=True)
    # plant MANY empty debris dirs so one is listed before bucket=7
    for b in range(32):
        if b != 7:
            (table / f"bucket={b}").mkdir()
    assert eio._committed_partition_layout(str(table)) == ["bucket", "ok"]
    # hadoop-FileSystem branch (non-local URIs) must agree
    assert eio._committed_partition_layout("file://" + str(table), spark) == [
        "bucket",
        "ok",
    ]


def test_layout_probe_all_empty_debris_is_none(tmp_path, spark):
    """Only empty bucket dirs on disk = nothing committed: the probe
    must answer None (fresh bucket/ok layout), not 'legacy'."""
    table = tmp_path / "result"
    for b in range(4):
        (table / f"bucket={b}").mkdir(parents=True)
    assert eio._committed_partition_layout(str(table)) is None
    assert eio._committed_partition_layout("file://" + str(table), spark) is None


def test_layout_probe_hidden_entries_not_legacy(tmp_path):
    """Committer droppings inside a bucket dir (_temporary, .crc) are
    not data files and must not be read as the legacy layout."""
    table = tmp_path / "result"
    (table / "bucket=0" / "_temporary").mkdir(parents=True)
    (table / "bucket=0" / ".part-x.crc").write_bytes(b"")
    (table / "bucket=1" / "ok=0").mkdir(parents=True)
    assert eio._committed_partition_layout(str(table)) == ["bucket", "ok"]


def test_layout_probe_legacy_still_detected(tmp_path, spark):
    """Real legacy tables (files directly under bucket=N/) still probe
    as bucket-only — including when a debris dir sits next to them."""
    legacy = eio.with_bucket(_mk(spark, [f"u{i}" for i in range(8)]), 4)
    table = str(tmp_path / "result")
    legacy.write.mode("overwrite").partitionBy("bucket").parquet(table)
    (Path(table) / "bucket=99").mkdir()  # kill debris
    assert eio._committed_partition_layout(table) == ["bucket"]
    assert eio._committed_partition_layout("file://" + table, spark) == ["bucket"]


def test_append_with_debris_keeps_ok_layout_and_table_readable(spark, tmp_path):
    """End-to-end: resume-append into a bucket/ok table that carries an
    empty debris bucket dir must keep the bucket/ok layout and leave
    the combined table readable."""
    out = str(tmp_path / "out")
    write_result(_mk(spark, [f"u{i}" for i in range(8)]), out, n_buckets=4)
    (Path(out) / "result" / "bucket=999").mkdir()
    write_result(
        _mk(spark, [f"v{i}" for i in range(8)]), out, n_buckets=4, mode="append"
    )
    table = os.path.join(out, "result")
    assert eio._committed_partition_layout(table) == ["bucket", "ok"]
    assert eio.read_result(spark, out).count() == 16


# -- 2. atomic manifest ------------------------------------------------------


def test_manifest_write_is_atomic(spark, tmp_path):
    """The manifest lands via tmp + os.replace: after any write the
    final file is complete JSON and no .tmp residue remains (a kill
    mid-dump leaves only the tmp, never a torn manifest.json)."""
    out = str(tmp_path / "out")
    write_result(_mk(spark, ["a", "b"]), out, n_buckets=4)
    lineage = Path(out) / "_lineage"
    assert json.loads((lineage / "manifest.json").read_text())["totals"]["rows_in"] == 2
    assert not list(lineage.glob("*.tmp"))


def test_resume_tolerates_torn_manifest(spark, tmp_path):
    """A manifest truncated mid-write (pre-atomic-rename state, still
    possible if a previous version of the job wrote it) must not crash
    the resumed append; the rebuilt manifest is cumulative truth."""
    out = str(tmp_path / "out")
    pages = _mk(spark, [f"u{i}" for i in range(10)])
    write_result(extract_pages_passthrough(pages), out, n_buckets=4)
    mpath = Path(out) / "_lineage" / "manifest.json"
    mpath.write_text(mpath.read_text()[: len(mpath.read_text()) // 2])
    pending = filter_pending(_mk(spark, [f"u{i}" for i in range(12)]), out)
    assert pending.count() == 2
    write_result(
        extract_pages_passthrough(pending), out, n_buckets=4, mode="append"
    )
    m = json.loads(mpath.read_text())
    assert m["totals"]["rows_in"] == 12


def extract_pages_passthrough(df):
    """These rows are already result-shaped; extract_pages is exercised
    by the fuzz tool itself."""
    return df


# -- 3. filter_pending vs in-flight-only debris --------------------------------


def test_filter_pending_with_only_temporary_debris(spark, tmp_path):
    """Killed before ANY task commit: table dir holds only _temporary.
    filter_pending must treat that as nothing-committed and keep every
    page pending (the underscore path is invisible to the reader)."""
    out = str(tmp_path / "out")
    (Path(out) / "result" / "_temporary" / "0").mkdir(parents=True)
    pages = _mk(spark, [f"u{i}" for i in range(5)])
    assert filter_pending(pages, out).count() == 5
    # and the append into that dir commits cleanly
    write_result(pages, out, n_buckets=4, mode="append")
    assert eio.read_result(spark, out).count() == 5
