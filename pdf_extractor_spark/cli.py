"""spark-submit entrypoint (north rule: ``spark-submit --py-files``).

Usage:
  spark-submit [--master local[N]] cli_launcher.py \
      --input  /path/to/pages_parquet \
          (or --input-warc DIR, or --synthesize N --seed S) \
      --output /path/to/result_dir \
      [--buckets 32] [--resume] [--file-sink DIR]

Reads a pages table (url, warc_ts, html, text, lang), runs the
extraction pipeline, writes the result table + per-partition lineage
manifests, prints a one-line JSON summary to stdout.

``main`` parses the flags and ``run_job`` runs the job, which the CDS
warm-up and the kill fuzzer run too. ``--input`` is read with
``PAGES_SCHEMA`` (``io.read_pages``): a missing or non-BINARY ``url`` or
``html`` column, or no data file, raises ``ValueError`` before any job.
The input's shape, not a flag, picks the partitioning (see ``run_job``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


class SourceError(ValueError):
    """Not exactly one pages source."""


def _check_source(input: str | None, input_warc: str | None, synthesize: int) -> None:
    """Raise `SourceError` unless exactly one pages source is given."""
    if sum(map(bool, (input, input_warc, synthesize))) != 1:
        raise SourceError("need exactly one of --input, --input-warc, or --synthesize")


def run_job(spark, *, output: str, input: str | None = None, input_warc: str | None = None, synthesize: int = 0,
            seed: int = 42, buckets: int = 32, resume: bool = False, file_sink: str | None = None) -> dict:
    """The batch job, one keyword per flag: one pages source → (on
    ``resume``) the urls not yet committed in ``output`` → extraction →
    the bucketed result table and its lineage → (with ``file_sink``) one
    JSON file per successful url. Returns the summary ``main`` prints."""
    _check_source(input, input_warc, synthesize)
    from pdf_extractor_spark import corpus, io as pio
    from pdf_extractor_spark.operators.extract import extract_pages
    from pdf_extractor_spark.sources.warc import pages_from_warc

    t0 = time.time()
    if synthesize:
        # synthesized on the executors (corpus.distributed_pages) — a
        # driver-side row build would serialize the scan stand-in and
        # poison any scaling measurement
        pages = corpus.distributed_pages(spark, synthesize, seed=seed)
    elif input:
        pages = pio.read_pages(spark, input)
    else:
        pages = pages_from_warc(spark, input_warc)

    # materialize_bucketed_corpus and an Iceberg bucket(N, url) ingest
    # both scan with a `bucket` partition column: written without an
    # exchange, one file per scan task and bucket.
    # Any other input keeps its scan's tasks (a parquet scan is split by
    # bytes, at session.py's maxPartitionBytes) and is bucketed by
    # write_result's one exchange.
    input_bucketed = "bucket" in pages.columns
    if resume:
        pages = pio.filter_pending(pages, output)
    result = extract_pages(pages, keep_failed=True)
    mode = "append" if resume else "overwrite"
    stats = pio.write_result(result, output, n_buckets=buckets, mode=mode, input_bucketed=input_bucketed)
    if file_sink:
        n_files = pio.write_json_files(pio.read_result(spark, output), file_sink)
        stats = {**stats, "json_files": n_files}
    return {"output": output, "elapsed_sec": round(time.time() - t0, 2), **stats}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pdf_extractor_spark")
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument(
        "--input-warc",
        metavar="DIR",
        help="ingest Common-Crawl-style *.warc / *.warc.gz archives "
        "instead of a parquet pages table (sources/warc.py)",
    )
    ap.add_argument("--synthesize", type=int, default=0, help="generate N synthetic pages instead of --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32, help="url-hash output buckets")
    ap.add_argument("--resume", action="store_true", help="skip urls already committed in --output")
    ap.add_argument(
        "--file-sink",
        metavar="DIR",
        help="also write one <stem>.json per successful url (the "
        "reference's per-document file sink, extract_outline.py:134-144)",
    )
    args = ap.parse_args(argv)
    try:
        _check_source(args.input, args.input_warc, args.synthesize)
    except SourceError as e:
        ap.error(str(e))  # before the JVM starts

    from pyspark import SparkContext

    from pdf_extractor_spark.session import get_spark

    started_here = SparkContext._active_spark_context is None  # a caller's live session stays up
    spark = get_spark("pdf_extractor_cli")
    try:
        print(json.dumps(run_job(spark, **vars(args))))
    finally:
        if started_here:
            spark.stop()  # removes the session's socket files
    return 0


if __name__ == "__main__":
    sys.exit(main())
