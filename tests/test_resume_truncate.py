"""Kill-and-resume: truncate the committed table to a prefix and prove
the resumed job rebuilds EXACTLY the uninterrupted result (round-3
verdict #6; north rule: "resumable from checkpoint with per-partition
lineage").

The simulation matches what a killed spark job actually leaves behind:
some bucket directories committed, others absent, and NO manifest /
_SUCCESS (both are written after the data commit).  The resumed run
must (a) process exactly the urls missing from the committed snapshot,
(b) produce a table row-identical — outline_json bytes included — to
an uninterrupted run, and (c) publish a cumulative manifest identical
to the uninterrupted one (not one that counts only the resumed rows).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pdf_extractor_spark import corpus
from pdf_extractor_spark.io import filter_pending, write_result
from pdf_extractor_spark.operators.extract import extract_pages

N_DOCS = 400
SEED = 13
N_BUCKETS = 16


def _pages(spark):
    return corpus.distributed_pages(spark, N_DOCS, seed=SEED)


def _run_full(spark, out_dir: str) -> dict:
    return write_result(extract_pages(_pages(spark)), out_dir, n_buckets=N_BUCKETS)


def _table_rows(spark, out_dir: str) -> list[str]:
    df = spark.read.parquet(f"{out_dir}/result")
    return sorted(df.select(sorted(df.columns)).toJSON().collect())


def _manifest(out_dir: str) -> dict:
    m = json.loads(Path(out_dir, "_lineage", "manifest.json").read_text())
    # timings differ run to run; counts must not
    return {
        "partitions": sorted(m["partitions"], key=lambda r: r["bucket"]),
        "totals": m["totals"],
        "error_classes": m.get("error_classes"),
    }


def _truncate(out_dir: str, keep_buckets: int) -> None:
    """Leave only a prefix of bucket dirs + delete manifest/_SUCCESS —
    the on-disk state of a job killed mid-write."""
    table = Path(out_dir, "result")
    for d in table.glob("bucket=*"):
        if int(d.name.split("=")[1]) >= keep_buckets:
            shutil.rmtree(d)
    (table / "_SUCCESS").unlink(missing_ok=True)
    shutil.rmtree(Path(out_dir, "_lineage"), ignore_errors=True)


def test_truncate_resume_rebuilds_byte_identical_table(spark, tmp_path):
    full_dir = str(tmp_path / "full")
    kill_dir = str(tmp_path / "kill")

    _run_full(spark, full_dir)
    _run_full(spark, kill_dir)

    _truncate(kill_dir, keep_buckets=10)
    committed = {r["url"] for r in spark.read.parquet(f"{kill_dir}/result").select("url").collect()}
    assert 0 < len(committed) < N_DOCS  # genuinely partial

    # resume processes EXACTLY the missing urls
    pending = filter_pending(_pages(spark), kill_dir)
    pending_urls = {r["url"] for r in pending.select("url").collect()}
    assert pending_urls.isdisjoint(committed)
    assert len(pending_urls) + len(committed) == N_DOCS

    write_result(extract_pages(pending), kill_dir, n_buckets=N_BUCKETS, mode="append")

    # table rows identical — outline_json bytes included
    assert _table_rows(spark, kill_dir) == _table_rows(spark, full_dir)
    # cumulative manifest identical to the uninterrupted run's: the
    # append recomputes it from the committed snapshot, so a manifest
    # that died with the job is not needed
    assert _manifest(kill_dir) == _manifest(full_dir)
    # exactly-once at url granularity
    n = spark.read.parquet(f"{kill_dir}/result").count()
    nd = spark.read.parquet(f"{kill_dir}/result").select("url").distinct().count()
    assert n == nd == N_DOCS


def test_stale_manifest_detected_and_rebuilt(spark, tmp_path):
    """Kill window the truncate test can't reach: run B's DATA commit
    succeeded but its manifest write didn't, so the manifest on disk is
    run A's — present, readable, and WRONG. The next append recomputes
    the manifest from the committed snapshot, so the stale counts
    heal instead of being merged into."""
    out = str(tmp_path / "stale")
    full = str(tmp_path / "stale_full")
    _run_full(spark, full)

    # run A: first half (corpus(N/2) is a prefix of corpus(N))
    half = corpus.distributed_pages(spark, N_DOCS // 2, seed=SEED)
    write_result(extract_pages(half), out, n_buckets=N_BUCKETS)
    manifest_path = Path(out, "_lineage", "manifest.json")
    run_a_manifest = manifest_path.read_text()

    # run B: append the rest, then simulate death-before-manifest by
    # restoring run A's manifest over run B's
    pending = filter_pending(_pages(spark), out)
    write_result(extract_pages(pending), out, n_buckets=N_BUCKETS, mode="append")
    manifest_path.write_text(run_a_manifest)

    # run C: nothing left to process; the empty append must still
    # publish cumulative truth over the stale manifest
    none_left = filter_pending(_pages(spark), out)
    assert none_left.count() == 0
    write_result(extract_pages(none_left), out, n_buckets=N_BUCKETS, mode="append")
    assert _manifest(out) == _manifest(full)
    assert _table_rows(spark, out) == _table_rows(spark, full)


def test_second_resume_is_a_noop(spark, tmp_path):
    out_dir = str(tmp_path / "noop")
    _run_full(spark, out_dir)
    before = _table_rows(spark, out_dir)
    pending = filter_pending(_pages(spark), out_dir)
    assert pending.count() == 0
    # appending an empty frame must not disturb the table or manifest
    write_result(
        extract_pages(pending), out_dir, n_buckets=N_BUCKETS, mode="append"
    )
    assert _table_rows(spark, out_dir) == before
    assert _manifest(out_dir)["totals"]["rows_in"] == N_DOCS
