"""Round-5 batch kill-and-resume hardening.

Regression tests for defects found by the batch kill fuzz
(tools/fuzz_sweep.py --batch-kill): on-disk states a SIGKILLed /
cancelled batch job actually leaves behind, which the deterministic
truncate simulation in test_resume_truncate.py cannot create.
"""

from __future__ import annotations

import json
from pathlib import Path

from pdf_extractor_spark import io as eio
from pdf_extractor_spark.io import filter_pending, write_result


def _mk(spark, urls):
    return spark.createDataFrame(
        [(u, True, 100, None, '{"title": "t"}') for u in urls],
        "url string, parse_ok boolean, payload_bytes long, error string, outline_json string",
    )


# -- 1. resume-append vs kill debris ----------------------------------------


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
    table = Path(out) / "result"
    # every data file sits under bucket=N/ok=M/, none directly under a
    # bucket dir (mixed partition depths make Spark refuse the table)
    assert not [p for p in table.glob("bucket=*/*") if p.is_file()]
    assert list(table.glob("bucket=*/ok=*/*.parquet"))
    assert eio.read_result(spark, out).count() == 16


# -- 2. atomic manifest ------------------------------------------------------


def test_manifest_write_is_atomic(spark, tmp_path):
    """The manifest lands via tmp + atomic overwriting rename: after any
    write the final file is complete JSON and no .tmp residue remains
    (a kill mid-dump leaves only the tmp, never a torn manifest.json)."""
    out = str(tmp_path / "out")
    write_result(_mk(spark, ["a", "b"]), out, n_buckets=4)
    lineage = Path(out) / "_lineage"
    assert json.loads((lineage / "manifest.json").read_text())["totals"]["rows_in"] == 2
    assert not list(lineage.glob("*.tmp"))


def test_manifest_lands_beside_table_on_file_uri(spark, tmp_path, monkeypatch):
    """A file:// output URI puts the manifest in the table's own
    directory (written through Hadoop's FileSystem), and nothing is
    created relative to the current working directory — os.path calls
    on the URI used to produce ./file:/<path>/_lineage/manifest.json."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "out"
    stats = write_result(_mk(spark, ["a", "b", "c"]), "file://" + str(out), n_buckets=4)
    manifest = json.loads((out / "_lineage" / "manifest.json").read_text())
    assert manifest["totals"]["rows_in"] == stats["rows_in"] == 3
    assert eio.read_result(spark, "file://" + str(out)).count() == 3
    # a second write replaces the manifest in place
    write_result(_mk(spark, ["d"]), "file://" + str(out), n_buckets=4, mode="append")
    manifest = json.loads((out / "_lineage" / "manifest.json").read_text())
    assert manifest["totals"]["rows_in"] == 4
    assert not list((out / "_lineage").glob("*.tmp"))
    assert list(cwd.iterdir()) == []


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
