"""Size-aware repartitioning end-to-end (north rule: "handles
oversized documents via size-aware repartitioning so no executor OOMs
at 10^12-document scale").

The corpus generator plants a deterministic heavy-tail slice
(``heavy_tail_every`` — every k-th doc is a valid spandoc ~60x the
median page count); these tests prove, against the ACTUAL task layout
(spark_partition_id, not the sizing arithmetic), that

  - row-count repartitioning lets a giant-bearing partition carry a
    payload many times the median partition (the OOM shape), while
  - io.size_aware_repartition bounds every task's payload near the
    target regardless of which task drew the giants, and
  - the rerouted job is RESULT-IDENTICAL to the naive layout (the
    repartition is a physical property, not a semantic one), giants
    included.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import corpus
from pdf_extractor_spark.io import size_aware_repartition
from pdf_extractor_spark.operators.extract import extract_pages

N_DOCS = 1500
HEAVY_EVERY = 101  # ~15 giants in 1500 docs
SEED = 7


def partition_payload_stats(df):
    """The ACTUAL per-task payload distribution of ``df``'s current
    partitioning, keyed by ``spark_partition_id()``: the bytes a task's
    Arrow stage is handed, so the tests assert against the task layout
    instead of trusting the sizing arithmetic."""
    plen = F.coalesce(F.length("html").cast("long"), F.lit(0))
    per = (
        df.select(F.spark_partition_id().alias("pid"), plen.alias("b"))
        .groupBy("pid")
        .agg(F.sum("b").alias("bytes"), F.max("b").alias("max_doc"))
    )
    summary = per.agg(
        F.count("*").alias("n"),
        F.max("bytes").alias("max_bytes"),
        F.sum("bytes").alias("total"),
        F.max("max_doc").alias("max_doc"),
    ).first()
    n = summary["n"] or 0
    total = int(summary["total"] or 0)
    return {
        "n_partitions": n,
        "max_partition_payload_bytes": int(summary["max_bytes"] or 0),
        "mean_partition_payload_bytes": int(total / n) if n else 0,
        "max_doc_bytes": int(summary["max_doc"] or 0),
        "total_payload_bytes": total,
    }


def _giant_indices():
    # corrupt slice (i % 41 == 7) takes precedence in build_pages_row
    return [
        i
        for i in range(N_DOCS)
        if i % HEAVY_EVERY == 3 and i % 41 != 7
    ]


def test_heavy_tail_generator_deterministic_and_giant():
    giants = _giant_indices()
    assert len(giants) >= 10
    g = giants[0]
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


@pytest.fixture(scope="module")
def heavy_pages(spark):
    df = corpus.distributed_pages(
        spark, N_DOCS, seed=SEED, heavy_tail_every=HEAVY_EVERY
    ).cache()
    df.count()
    yield df
    df.unpersist()


def test_size_aware_bounds_task_payload(spark, heavy_pages):
    target = 32 << 10
    threshold = 16 << 10

    sized_df, stats = size_aware_repartition(
        heavy_pages,
        target_partition_bytes=target,
        big_threshold=threshold,
    )
    sized = partition_payload_stats(sized_df)

    # the giants are big enough to matter: one doc alone is several
    # times the target, so a task that drew several would blow past it
    assert sized["max_doc_bytes"] > 3 * target
    assert stats["big_bytes"] > 0 and stats["n_big_partitions"] >= 2

    # ROW-COUNT layout at the partition count a bytes-uniform planner
    # would pick (total/target): giants land wherever their row falls,
    # so the worst task carries several times the mean task's payload —
    # the unpredictable-task-memory shape that OOMs at scale
    n_uniform = max(1, sized["total_payload_bytes"] // target)
    naive = partition_payload_stats(heavy_pages.repartition(n_uniform))
    assert (
        naive["max_partition_payload_bytes"]
        > 3 * naive["mean_partition_payload_bytes"]
    )

    # SIZE-AWARE layout: mean task payload lands on the target (the
    # sizing arithmetic holds against the actual task layout)...
    assert sized["mean_partition_payload_bytes"] <= 1.5 * target
    # ...and the worst task is bounded by a small constant number of
    # documents: the big pool is hash-spread over ceil(big_bytes /
    # target) partitions, so a task holds at most a few giants even
    # under small-sample hash collisions (at production scale each
    # big-pool partition averages `target` bytes over many docs and
    # concentrates; a row-count layout has NO such bound — one task
    # can inherit an entire file split of giants)
    bound = 3 * sized["max_doc_bytes"] + 2 * target
    assert sized["max_partition_payload_bytes"] <= bound
    # nothing dropped by the filter split (NULL-safe routing)
    assert sized_df.count() == N_DOCS


def test_size_aware_is_result_identical_and_giants_extract(spark, heavy_pages):
    sized, _ = size_aware_repartition(
        heavy_pages, target_partition_bytes=256 << 10, big_threshold=32 << 10
    )
    a = {
        (r["url"], r["parse_ok"], r["title"], r["n_outline"])
        for r in extract_pages(heavy_pages)
        .selectExpr("url", "parse_ok", "title", "size(outline) as n_outline")
        .collect()
    }
    b = {
        (r["url"], r["parse_ok"], r["title"], r["n_outline"])
        for r in extract_pages(sized)
        .selectExpr("url", "parse_ok", "title", "size(outline) as n_outline")
        .collect()
    }
    assert a == b
    giant_urls = {
        corpus.build_pages_row(i, seed=SEED, heavy_tail_every=HEAVY_EVERY)["url"]
        for i in _giant_indices()
    }
    ok_by_url = {r[0]: r[1] for r in a}
    assert giant_urls <= set(ok_by_url)
    assert all(ok_by_url[u] for u in giant_urls)  # giants parse, not S4


def test_detect_heavy_tail_verdicts(spark, heavy_pages):
    """The auto-detector (io.detect_heavy_tail) must fire on the
    planted heavy tail and stay silent on the default corpus — the
    factor must separate the two with margin (measured: default
    max/mean ~3x, heavy ~40x vs factor 16)."""
    from pdf_extractor_spark.io import SIZE_AWARE_AUTO_FACTOR, detect_heavy_tail

    det = detect_heavy_tail(heavy_pages)
    assert det["heavy"] is True
    assert det["max_doc_bytes"] > SIZE_AWARE_AUTO_FACTOR * det["mean_doc_bytes"]

    default = corpus.distributed_pages(spark, 400, seed=SEED)
    det2 = detect_heavy_tail(default)
    assert det2["heavy"] is False
    # margin on both sides: the default corpus is not even close
    assert det2["max_doc_bytes"] < 8 * max(det2["mean_doc_bytes"], 1)


def _run_cli(capsys, argv):
    import json as _json

    from pdf_extractor_spark import cli

    assert cli.main(argv) == 0
    lines = [
        ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")
    ]
    return _json.loads(lines[-1])


@pytest.fixture
def cli_calls(monkeypatch):
    """Record how the CLI calls io.write_result and io.detect_heavy_tail
    (both still run for real)."""
    from pdf_extractor_spark import io as pio

    calls = {"write_result": [], "detect_heavy_tail": 0}
    real_write, real_detect = pio.write_result, pio.detect_heavy_tail

    def write_result(*args, **kwargs):
        calls["write_result"].append(kwargs)
        return real_write(*args, **kwargs)

    def detect_heavy_tail(*args, **kwargs):
        calls["detect_heavy_tail"] += 1
        return real_detect(*args, **kwargs)

    monkeypatch.setattr(pio, "write_result", write_result)
    monkeypatch.setattr(pio, "detect_heavy_tail", detect_heavy_tail)
    return calls


def test_cli_auto_engages_on_heavy_tail_parquet(spark, tmp_path, capsys, cli_calls):
    """VERDICT r4 #6: the production job must flip size-aware
    repartitioning on BY ITSELF when an unbucketed parquet input shows
    a heavy tail, while the default corpus path stays unchanged.
    Result identity with an in-process extraction of the same input
    proves the repartition is a physical property only."""
    heavy_in = str(tmp_path / "heavy_in")
    corpus.distributed_pages(
        spark, 600, seed=SEED, heavy_tail_every=HEAVY_EVERY
    ).write.parquet(heavy_in)

    s_auto = _run_cli(
        capsys, ["--input", heavy_in, "--output", str(tmp_path / "out_auto")]
    )
    assert cli_calls["detect_heavy_tail"] == 1
    assert cli_calls["write_result"][-1]["input_bucketed"] is False
    assert s_auto["size_aware"]["auto"]["heavy"] is True
    assert s_auto["size_aware"]["n_big_partitions"] >= 1
    # corpus-derived knobs: a "big" doc is auto_factor x mean
    assert (
        s_auto["size_aware"]["big_threshold"]
        == s_auto["size_aware"]["auto"]["auto_factor"]
        * s_auto["size_aware"]["auto"]["mean_doc_bytes"]
    )
    a = {
        (r["url"], r["outline_json"])
        for r in spark.read.parquet(str(tmp_path / "out_auto" / "result"))
        .select("url", "outline_json")
        .collect()
    }
    b = {
        (r["url"], r["outline_json"])
        for r in extract_pages(spark.read.parquet(heavy_in), keep_failed=True)
        .select("url", "outline_json")
        .collect()
    }
    assert len(a) == 600
    assert a == b

    # default corpus: detection runs but does NOT engage
    default_in = str(tmp_path / "default_in")
    corpus.distributed_pages(spark, 300, seed=SEED).write.parquet(default_in)
    s_def = _run_cli(
        capsys, ["--input", default_in, "--output", str(tmp_path / "out_def")]
    )
    assert cli_calls["detect_heavy_tail"] == 2
    assert "size_aware" not in s_def


def test_cli_bucketed_input_skips_detection(spark, tmp_path, capsys, cli_calls):
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
    assert cli_calls["detect_heavy_tail"] == 0
    assert cli_calls["write_result"][-1]["input_bucketed"] is True
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
