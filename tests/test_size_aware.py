"""Oversized documents (north rule: "no executor OOMs at
10^12-document scale") without a repartition of their own.

The corpus generator plants a deterministic heavy-tail slice
(``heavy_tail_every`` — every k-th doc is a valid spandoc ~60x the
median page count). What bounds a task and a worker is Spark's
byte-split scan (``spark.sql.files.maxPartitionBytes``) and the Arrow
batch cap (session.py); these tests pin that

  - the generator plants giants deterministically, and only on request;
  - giants extract as ``parse_ok`` rows, in process and through the CLI,
    whose output on a heavy unbucketed input equals an in-process
    extraction of the same input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators.extract import extract_pages

N_DOCS = 1500
HEAVY_EVERY = 101  # ~15 giants in 1500 docs
SEED = 7


def _giant_urls(n_docs):
    # corrupt slice (i % 41 == 7) takes precedence in build_pages_row
    return {
        corpus.build_pages_row(i, seed=SEED, heavy_tail_every=HEAVY_EVERY)["url"]
        for i in range(n_docs)
        if i % HEAVY_EVERY == 3 and i % 41 != 7
    }


def test_heavy_tail_generator_deterministic_and_giant():
    g = 3  # the first giant
    row_a = corpus.build_pages_row(g, seed=SEED, heavy_tail_every=HEAVY_EVERY)
    row_b = corpus.build_pages_row(g, seed=SEED, heavy_tail_every=HEAVY_EVERY)
    assert row_a["html"] == row_b["html"]  # deterministic
    base = corpus.build_pages_row(g, seed=SEED)  # same index, no tail
    assert len(row_a["html"]) > 20 * len(base["html"])
    # still a VALID document: payload round-trips through the parser shape
    pages = corpus.payload_to_spandoc(row_a["html"])
    assert len(pages) > 30  # ~60 concatenated spandocs' pages
    # the default corpus is untouched by the opt-in knob
    assert corpus.build_pages_row(g, seed=SEED)["html"] == base["html"]


def test_dense_heavy_tail_still_plants_giants():
    """heavy_tail_every <= 3 must still produce giants (the fixed
    offset 3 would be unreachable under mod 2)."""
    rows = [
        corpus.build_pages_row(i, seed=SEED, heavy_tail_every=2) for i in range(20)
    ]
    sizes = sorted(len(r["html"]) for r in rows)
    assert sizes[-1] > 20 * sizes[0]  # giants present


@pytest.mark.parametrize("seed, heavy_every", [(11, None), (SEED, HEAVY_EVERY)])
def test_distributed_pages_is_build_pages_row(spark, seed, heavy_every):
    """The executor-side corpus (session warm-up and bench input) is
    exactly build_pages_row(i) for every i, in 4 slices per core."""
    n, html_fraction = 400, 0.3
    df = corpus.distributed_pages(
        spark, n, seed=seed, html_fraction=html_fraction, heavy_tail_every=heavy_every
    )
    assert df.rdd.getNumPartitions() == 4 * spark.sparkContext.defaultParallelism
    got = {
        r["url"]: r.asDict()
        for r in df.withColumn("warc_ts", F.col("warc_ts").cast("long")).collect()
    }
    assert len(got) == n
    sizes = []
    for i in range(n):
        want = corpus.build_pages_row(i, seed, html_fraction, heavy_tail_every=heavy_every)
        want["warc_ts"] = int(want["warc_ts"].timestamp())
        g = got[want["url"]]
        g["html"] = bytes(g["html"])
        assert g == want, i
        sizes.append(len(want["html"]))
    sizes.sort()
    # the heavy case really carries giants, the plain one does not
    assert (sizes[-1] > 20 * sizes[n // 2]) == (heavy_every is not None)


def test_giants_extract_as_parse_ok(spark):
    heavy_pages = corpus.distributed_pages(spark, N_DOCS, seed=SEED, heavy_tail_every=HEAVY_EVERY)
    ok_by_url = {r.url: r.parse_ok for r in extract_pages(heavy_pages).select("url", "parse_ok").collect()}
    giant_urls = _giant_urls(N_DOCS)
    assert len(giant_urls) >= 10 and giant_urls <= set(ok_by_url)
    assert all(ok_by_url[u] for u in giant_urls)  # giants parse, not S4


def _run_cli(capsys, argv):
    import json as _json

    from pdf_extractor_spark import cli

    assert cli.main(argv) == 0
    lines = [
        ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")
    ]
    return _json.loads(lines[-1])


@pytest.fixture
def write_calls(monkeypatch):
    """Record the keywords the CLI calls io.write_result with (it still
    runs for real)."""
    from pdf_extractor_spark import io as pio

    calls = []
    real_write = pio.write_result

    def write_result(*args, **kwargs):
        calls.append(kwargs)
        return real_write(*args, **kwargs)

    monkeypatch.setattr(pio, "write_result", write_result)
    return calls


def test_cli_heavy_tail_parquet_equals_extract_pages(spark, tmp_path, capsys, write_calls):
    """An unbucketed parquet input with a heavy tail runs as its scan
    splits it: the job gives an in-process extraction's rows, giants
    included, and its summary carries no sizing object."""
    n = 600
    heavy_in = str(tmp_path / "heavy_in")
    corpus.distributed_pages(spark, n, seed=SEED, heavy_tail_every=HEAVY_EVERY).write.parquet(heavy_in)

    summary = _run_cli(capsys, ["--input", heavy_in, "--output", str(tmp_path / "out")])
    assert write_calls[-1]["input_bucketed"] is False
    assert "size_aware" not in summary
    a = {
        (r["url"], r["parse_ok"], r["outline_json"])
        for r in spark.read.parquet(str(tmp_path / "out" / "result"))
        .select("url", "parse_ok", "outline_json")
        .collect()
    }
    b = {
        (r["url"], r["parse_ok"], r["outline_json"])
        for r in extract_pages(spark.read.parquet(heavy_in), keep_failed=True)
        .select("url", "parse_ok", "outline_json")
        .collect()
    }
    assert len(a) == n
    assert a == b
    ok = {url for url, parse_ok, _ in a if parse_ok}
    assert _giant_urls(n) <= ok


def test_cli_bucketed_input_skips_detection(spark, tmp_path, capsys, write_calls):
    """A scan with a `bucket` partition column is the bucketed-ingest
    layout: the CLI writes it without the exchange and leaves its
    partitioning alone, heavy tail or not."""
    bucketed_in = str(tmp_path / "bucketed_in")
    corpus.materialize_bucketed_corpus(
        spark, 600, bucketed_in, seed=SEED, n_buckets=4,
        files_per_bucket=1, heavy_tail_every=HEAVY_EVERY,
    )
    summary = _run_cli(
        capsys,
        ["--input", bucketed_in, "--output", str(tmp_path / "out"), "--buckets", "4"],
    )
    assert write_calls[-1]["input_bucketed"] is True
    assert "size_aware" not in summary
    assert summary["rows_in"] == 600


def test_cli_help_names_no_removed_flag(capsys):
    from pdf_extractor_spark import cli

    with pytest.raises(SystemExit) as exit_info:
        cli.main(["--help"])
    assert exit_info.value.code == 0
    text = capsys.readouterr().out
    assert "--input-warc" in text
    for flag in (
        "--warm-workers",
        "--input-bucketed",
        "--size-aware",
        "--no-size-aware",
        "--size-aware-target-bytes",
        "--size-aware-big-threshold",
    ):
        assert flag not in text
