"""The package reads its result table, and ``--input`` pages, with
known schemas.

Reading parquet without a schema makes Spark infer one first: a
one-task job that reads a parquet footer, ~0.1 s of a warm job with
the driver gaps around it, paid by every ``filter_pending``, every
lineage rescan and every CLI ``--input`` scan. These tests count the
Spark jobs each read starts (by job group), and pin that the schema'd
read still takes a table directory with no data file as "nothing
committed". A table Spark refuses is covered in test_round5_fixes.
"""

from __future__ import annotations

import json
from functools import partial
from pathlib import Path

from pdf_extractor_spark import corpus, io as eio
from pdf_extractor_spark.cli import run_job
from pdf_extractor_spark.io import filter_pending, write_result


def _mk(spark, urls):
    return spark.createDataFrame(
        [(u, True, 100, None, '{"title": "t"}') for u in urls],
        "url string, parse_ok boolean, payload_bytes long, error string, outline_json string",
    )


def _jobs(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_filter_pending_on_committed_table_starts_no_job(spark, tmp_path):
    out = str(tmp_path / "out")
    write_result(_mk(spark, [f"u{i}" for i in range(8)]), out, n_buckets=4)
    pages = _mk(spark, [f"u{i}" for i in range(12)])
    pending, n_jobs = _jobs(spark, "reads-filter-pending", lambda: filter_pending(pages, out))
    assert n_jobs == 0
    assert sorted(r.url for r in pending.select("url").collect()) == ["u10", "u11", "u8", "u9"]


def test_append_starts_only_write_and_lineage_jobs(spark, tmp_path):
    out = str(tmp_path / "out")
    write_result(_mk(spark, [f"u{i}" for i in range(8)]), out, n_buckets=4)
    totals, n_jobs = _jobs(
        spark,
        "reads-append",
        lambda: write_result(_mk(spark, [f"v{i}" for i in range(8)]), out, n_buckets=4, mode="append"),
    )
    # the bucket exchange and its write, then the lineage aggregation's
    # exchange and collect: no job reads a footer to infer the schema
    assert n_jobs == 4
    assert totals["rows_in"] == 16
    assert eio.read_result(spark, out).count() == 16


def test_table_dir_with_only_empty_bucket_dirs_is_nothing_committed(spark, tmp_path):
    out = tmp_path / "out"
    for b in range(4):
        (out / "result" / f"bucket={b}").mkdir(parents=True)
    pages = _mk(spark, [f"u{i}" for i in range(6)])
    assert filter_pending(pages, str(out)).count() == 6
    totals = eio._finish_lineage(spark, str(out), 4, 0.0)
    assert {k: totals[k] for k in ("rows_in", "rows_out", "parse_failures", "payload_bytes")} == {
        "rows_in": 0,
        "rows_out": 0,
        "parse_failures": 0,
        "payload_bytes": 0,
    }
    manifest = json.loads((Path(out) / "_lineage" / "manifest.json").read_text())
    assert manifest["partitions"] == [] and manifest["totals"]["rows_in"] == 0


def test_read_result_has_bucket_as_int_partition_column(spark, tmp_path):
    out = str(tmp_path / "out")
    write_result(_mk(spark, ["a", "b", "c"]), out, n_buckets=4)
    table = eio.read_result(spark, out)
    assert table.schema["bucket"].dataType.simpleString() == "int"
    got = {r.url: r.bucket for r in table.select("url", "bucket").collect()}
    want = {r.url: r.bucket for r in eio.with_bucket(_mk(spark, ["a", "b", "c"]), 4).collect()}
    assert got == want


def test_cli_input_runs_start_no_schema_inference_job(spark, tmp_path):
    """``--input`` is read with PAGES_SCHEMA: each run starts only the
    jobs of its plan. Bucketed: the write and its lineage's exchange
    and collect; resume adds the broadcast of the committed urls;
    unbucketed adds the bucket exchange, with a heavy tail (one giant
    at 32x the mean document) or without."""
    bucketed, flat, heavy = (str(tmp_path / d) for d in ("bucketed", "flat", "heavy"))
    corpus.materialize_bucketed_corpus(spark, 64, bucketed, n_buckets=4, files_per_bucket=1)
    corpus.distributed_pages(spark, 64).write.parquet(flat)
    corpus.distributed_pages(spark, 64, heavy_tail_every=101).write.parquet(heavy)
    out = str(tmp_path / "out")
    for group, job, want in (
        ("cli-bucketed", {"input": bucketed}, 3),
        ("cli-bucketed-resume", {"input": bucketed, "resume": True}, 4),
        ("cli-flat", {"input": flat, "output": str(tmp_path / "out_flat")}, 4),
        ("cli-flat-heavy", {"input": heavy, "output": str(tmp_path / "out_heavy")}, 4),
    ):
        summary, n_jobs = _jobs(spark, group, partial(run_job, spark, **{"output": out, "buckets": 4, **job}))
        assert (group, summary["rows_in"], n_jobs) == (group, 64, want)


def _map_in_pandas(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("MapInPandas")


def test_cli_input_warc_plans_one_python_stage_unless_resumed(spark, tmp_path, monkeypatch):
    """``--input-warc`` parses and extracts each archive in one Python
    stage. ``--resume`` on a committed output filters the pages first,
    so it extracts in a second stage. The jobs are those of the parent
    commit's two-stage plan: the bucket exchange and its write, the
    lineage exchange and collect, plus the committed-url broadcast on
    resume."""
    from pdf_extractor_spark.operators import extract

    rows = corpus.build_pages_rows(64, seed=8)
    archives = tmp_path / "warc"
    archives.mkdir()
    (archives / "a.warc.gz").write_bytes(corpus.rows_to_warc(rows[:32]))
    planned = []

    def recording(pages, **kwargs):
        planned.append(real(pages, **kwargs))
        return planned[-1]

    real = extract.extract_pages
    monkeypatch.setattr(extract, "extract_pages", recording)
    run = partial(run_job, spark, output=str(tmp_path / "out"), input_warc=str(archives), buckets=4)
    first, first_jobs = _jobs(spark, "cli-warc", run)
    (archives / "b.warc.gz").write_bytes(corpus.rows_to_warc(rows[32:]))
    resumed, resumed_jobs = _jobs(spark, "cli-warc-resume", partial(run, resume=True))
    assert [_map_in_pandas(df) for df in planned] == [1, 2]
    assert (first["rows_in"], first_jobs) == (32, 4)
    assert (resumed["rows_in"], resumed_jobs) == (64, 5)
