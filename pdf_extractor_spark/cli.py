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

The partitioning follows the input's shape; no flag selects it. A
parquet input bucketed on url-hash is written without an exchange,
one file per scan task and bucket; any other parquet input is checked for a heavy tail and, if it has
one, repartitioned by payload size (``io.repartition_if_heavy``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


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

    from pdf_extractor_spark import corpus, io as pio
    from pdf_extractor_spark.operators.extract import extract_pages
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("pdf_extractor_cli")
    t0 = time.time()
    if args.synthesize:
        # synthesized on the executors (corpus.distributed_pages) — a
        # driver-side row build would serialize the scan stand-in and
        # poison any scaling measurement
        pages = corpus.distributed_pages(spark, args.synthesize, seed=args.seed)
    elif args.input:
        pages = spark.read.parquet(args.input)
    elif args.input_warc:
        from pdf_extractor_spark.sources.warc import pages_from_warc

        pages = pages_from_warc(spark, args.input_warc)
    else:
        ap.error("need --input, --input-warc, or --synthesize")

    # materialize_bucketed_corpus and an Iceberg bucket(N, url) ingest
    # both scan with a `bucket` partition column. WARC and synthesized
    # payloads come out of a Python stage, where heavy-tail detection
    # would re-run that stage instead of scanning a column.
    input_bucketed = bool(args.input) and "bucket" in pages.columns
    if args.resume:
        pages = pio.filter_pending(pages, args.output)
    size_aware_stats = None
    if args.input and not input_bucketed:
        pages, size_aware_stats = pio.repartition_if_heavy(pages)

    result = extract_pages(pages, keep_failed=True)
    stats = pio.write_result(
        result,
        args.output,
        n_buckets=args.buckets,
        mode="append" if args.resume else "overwrite",
        input_bucketed=input_bucketed,
    )
    if args.file_sink:
        n_files = pio.write_json_files(
            pio.read_result(spark, args.output), args.file_sink
        )
        stats = {**stats, "json_files": n_files}
    elapsed = time.time() - t0
    summary = {
        "output": args.output,
        "elapsed_sec": round(elapsed, 2),
        **stats,
    }
    if size_aware_stats:
        summary["size_aware"] = size_aware_stats
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
