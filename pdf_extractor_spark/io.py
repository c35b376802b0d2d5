"""Result-table IO: bucketed layout, lineage manifests, resume.

North-rule requirements implemented here:
  - explicit bucketed partitioning on url-hash (``bucket = pmod(
    xxhash64(url), N)``) — co-locates any later per-url join/agg and
    bounds file counts at 10^12-document scale;
  - per-partition lineage manifests (rows in/out, parse failures,
    payload bytes) written alongside every snapshot;
  - resumability: ``filter_pending`` anti-joins the input against the
    committed result table so a re-run processes only missing urls —
    idempotent writes at the url granularity.

Iceberg is the intended production format; its runtime jar is not in
this environment (verified: 0 matches in pyspark/jars), so the layout
falls back to parquet with an identical bucket scheme. The write path
is format-agnostic behind ``write_result``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import PAGES_SCHEMA, RESULT_SCHEMA


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def write_result(
    result: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
    input_bucketed: bool = False,
) -> dict:
    """Write the result table bucketed by url-hash + lineage manifest.

    All rows (including parse failures) land in the table — consumers
    filter on ``parse_ok`` (the reference's "no output for failed
    docs" semantic, S4) — so lineage can be derived from the committed
    snapshot itself with a column-pruned scan instead of a second
    pipeline pass.

    ``input_bucketed=True`` is the production shape the north rule
    describes: the pages table is ALREADY bucketed on url-hash
    (Iceberg ``bucket(N, url)`` at ingest), so every scan task holds
    rows of exactly one bucket and the dynamic-partition write emits
    one file per (task, bucket) with NO exchange — the whole job is
    scan → extract → write, shuffle-free. Bucket once at ingest,
    never reshuffle: at 100 TB the repartition below would move the
    entire result table across the cluster per run.

    Lineage has ONE mechanism for one-shot writes, resume appends and
    streaming micro-batches alike: after the data commit, one pruned
    aggregation over the committed snapshot (``_finish_lineage``)
    recomputes the cumulative per-bucket counts and error classes.
    Nothing reads the previous manifest back, so a manifest that is
    missing, stale or torn — a job killed between the data commit and
    the manifest write — heals itself on the next write. The price is
    a rescan that is O(committed table) per write rather than
    O(batch); it reads only the ``bucket`` partition value and three
    thin columns. Measured on a 4 vCPU host, appending 1,536 thin rows
    (median of 3 appends): into tables of 10k to 4M rows an append
    took 0.9–1.4 s with 0.4–0.7 s of lineage, flat in table size; at
    16M rows 1.3–1.5 s with 0.7–0.9 s of lineage; at 64M rows 2.4 s
    with 1.7 s of lineage. The rescan starts to show at ~16M rows.
    """
    t_write0 = time.time()
    table_dir = os.path.join(out_dir, "result")
    bucketed = with_bucket(result, n_buckets)
    # repartition on the bucket key before the write: each reduce task
    # then writes into exactly one bucket dir (one file per bucket,
    # not tasks×buckets tiny files — measured 13s vs 0s of overhead at
    # 240k docs/32 cores), and the shuffle overlaps the extraction
    # stage, so the write costs ~nothing end-to-end. When the input
    # arrives bucket-partitioned (Iceberg bucket(N, url) ingest shape)
    # every scan task holds rows of one bucket only, so the exchange is
    # skipped and the whole job stays shuffle-free; a bucket read by k
    # scan tasks (k input files) then gets k files, not one.
    # mode="append" is the resume path: filter_pending already removed
    # committed urls, so appending is idempotent at url granularity
    to_write = (
        bucketed if input_bucketed else bucketed.repartition(n_buckets, "bucket")
    )
    to_write.write.mode(mode).partitionBy("bucket").parquet(table_dir)
    return _finish_lineage(result.sparkSession, out_dir, n_buckets, t_write0)


def _finish_lineage(spark: SparkSession, out_dir: str, n_buckets: int, t_write0: float) -> dict:
    # Per-bucket lineage from the committed snapshot with ONE
    # column-pruned aggregation job (bucket is a partition column —
    # free; parse_ok/error/payload_bytes are the only data columns
    # read). Error-class triage is FUSED into the same scan at grain
    # (bucket, error_class) — error_class is NULL for successes, the
    # message prefix extract.py records for failures ('PdfError',
    # 'unsupported_payload', 'no_text_blocks', ...) — so a write pays
    # one small job. The collect is bounded by
    # n_buckets × (1 + number of error classes) rows.
    t_write1 = time.time()
    written = _committed(spark, out_dir)
    if written is None:
        # Nothing committed and this write appended zero rows: a normal
        # streaming state (a micro-batch that salvages no records, or
        # only re-ships; tools/fuzz_sweep.py --stream-warc). The
        # truthful manifest is all-zero totals, not a failed commit.
        grouped = []
    else:
        err_class = F.when(
            ~F.col("parse_ok"),
            F.substring_index(F.coalesce(F.col("error"), F.lit("unknown")), ":", 1),
        )
        grouped = (
            written.groupBy("bucket", err_class.alias("error_class"))
            .agg(
                F.count("*").alias("n"),
                F.sum("payload_bytes").alias("payload_bytes"),
            )
            .collect()
        )
    per_bucket: dict[int, dict] = {}
    error_classes: dict[str, int] = {}
    for r in grouped:
        b = per_bucket.setdefault(
            int(r["bucket"]),
            {
                "bucket": int(r["bucket"]),
                "rows_in": 0,
                "rows_out": 0,
                "parse_failures": 0,
                "payload_bytes": 0,
            },
        )
        b["rows_in"] += r["n"]
        b["payload_bytes"] += int(r["payload_bytes"] or 0)
        if r["error_class"] is None:
            b["rows_out"] += r["n"]
        else:
            b["parse_failures"] += r["n"]
            error_classes[r["error_class"]] = (
                error_classes.get(r["error_class"], 0) + r["n"]
            )
    lineage_rows = [per_bucket[b] for b in sorted(per_bucket)]
    return _write_manifest(
        spark, out_dir, n_buckets, lineage_rows, error_classes, t_write0, t_write1
    )


def _write_manifest(
    spark: SparkSession,
    out_dir: str,
    n_buckets: int,
    lineage_rows: list[dict],
    error_classes: dict[str, int],
    t_write0: float,
    t_write1: float,
) -> dict:
    snapshot = {
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "n_buckets": n_buckets,
        "partitions": lineage_rows,
        "totals": {
            "rows_in": sum(r["rows_in"] for r in lineage_rows),
            "rows_out": sum(r["rows_out"] for r in lineage_rows),
            "parse_failures": sum(r["parse_failures"] for r in lineage_rows),
            "payload_bytes": sum(r["payload_bytes"] for r in lineage_rows),
        },
        # why each failure failed, not just how many — the triage
        # signal an operator needs before re-running a 10^12-doc job
        "error_classes": dict(sorted(error_classes.items())),
    }
    # Through the output path's Hadoop FileSystem, so the manifest
    # lands beside the table on any URI (file://, hdfs://, s3a://);
    # os.path would take a URI for a cwd-relative path. tmp + hsync +
    # atomic overwriting rename: a job killed mid-dump, or a host
    # crashing after the rename, never leaves a torn manifest.json
    # visible — readers see either the previous complete snapshot or
    # the new one.
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    lineage_dir = jvm.org.apache.hadoop.fs.Path(out_dir, "_lineage")
    dst = jvm.org.apache.hadoop.fs.Path(lineage_dir, "manifest.json")
    tmp = jvm.org.apache.hadoop.fs.Path(lineage_dir, "manifest.json.tmp")
    stream = lineage_dir.getFileSystem(conf).create(tmp, True)
    try:
        stream.write(json.dumps(snapshot, indent=2).encode("utf-8"))
        stream.hsync()
    finally:
        stream.close()
    rename_opts = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
    overwrite = spark.sparkContext._gateway.new_array(rename_opts, 1)
    overwrite[0] = rename_opts.OVERWRITE
    jvm.org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri(), conf).rename(
        tmp, dst, overwrite
    )
    return {
        **snapshot["totals"],
        "error_classes": snapshot["error_classes"],
        "write_sec": round(t_write1 - t_write0, 2),
        "lineage_sec": round(time.time() - t_write1, 2),
    }


def write_json_files(result: DataFrame, out_dir: str) -> int:
    """S5 file-level parity: one ``<stem>.json`` per successful url,
    exactly the reference's sink (extract_outline.py:134-144 writes
    output/<pdf stem>.json). Executors write their partitions' files
    directly (foreachPartition) — no driver collect; ``out_dir`` must
    be a shared filesystem in production, which is also the
    reference's deployment assumption (mounted output volume).

    The reference's flat input dir guarantees unique basenames; web
    urls don't (a.com/report.pdf vs b.com/report.pdf). Colliding stems
    get a short url-hash suffix — computed via a count window over the
    stem, so only genuinely colliding urls pay the disambiguation and
    the common case keeps the reference's exact ``<stem>.json`` name.
    Returns the number of rows actually written (accumulator, not
    listdir — stale files from a previous run into the same dir must
    not inflate the stat).

    The executors write with plain ``open``: a ``file:`` URI is taken
    as its local path, and any other scheme raises ``ValueError``
    before a job runs, because Python executors hold no Hadoop
    filesystem handle (``os.makedirs("hdfs://nn/x")`` would create a
    local ``hdfs:`` directory and report success)."""
    import os as _os
    from urllib.parse import unquote, urlparse

    from pyspark.sql import Window as W

    uri = urlparse(out_dir)
    if uri.scheme == "file" and uri.netloc in ("", "localhost"):
        out_dir = unquote(uri.path)
    elif uri.scheme:
        raise ValueError(f"write_json_files needs a local or file: path, got {out_dir!r}")
    _os.makedirs(out_dir, exist_ok=True)
    base = F.element_at(F.split(F.regexp_replace(F.col("url"), "/+$", ""), "/"), -1)
    stem = F.regexp_replace(base, r"(.)\.[^.]*$", "$1")  # splitext semantics
    sel = (
        result.filter(F.col("parse_ok"))
        .select("url", "outline_json", stem.alias("stem"))
        .withColumn("n_stem", F.count("*").over(W.partitionBy("stem")))
        .select(
            F.when(
                F.col("n_stem") > 1,
                F.concat(F.col("stem"), F.lit("-"), F.substring(F.md5("url"), 1, 10)),
            )
            .otherwise(F.col("stem"))
            .alias("fname"),
            "outline_json",
        )
    )
    n_written = sel.sparkSession.sparkContext.accumulator(0)

    def _write_partition(rows) -> None:
        n = 0
        for r in rows:
            path = _os.path.join(out_dir, f"{r['fname']}.json")
            with open(path, "w", encoding="utf-8") as f:
                f.write(r["outline_json"] or "")
            n += 1
        n_written.add(n)

    sel.foreachPartition(_write_partition)
    return int(n_written.value)


# The result table as written: RESULT_SCHEMA's columns in the data
# files, ``bucket`` from the partition directories.
_TABLE_SCHEMA = T.StructType(
    [*RESULT_SCHEMA.fields, T.StructField("bucket", T.IntegerType(), True)]
)


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed result table under ``out_dir``: every row, parse
    failures included, with ``bucket`` as its partition column.
    Success-only consumers filter ``parse_ok`` themselves.

    The read passes the table's known schema: inferring it would cost
    every read a one-task Spark job that reads a parquet footer (~0.1 s
    of a warm job with the driver gaps around it)."""
    return spark.read.schema(_TABLE_SCHEMA).parquet(os.path.join(out_dir, "result"))


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """The pages parquet table at ``path`` with ``PAGES_SCHEMA`` (plus a
    ``bucket`` partition column if it has one). Raises ``ValueError``
    before any Spark job unless the first data file's footer, read
    through the Hadoop FileSystem, has BINARY ``url`` and ``html``."""
    pages = spark.read.schema(PAGES_SCHEMA).parquet(path)
    files = pages.inputFiles()
    if not files:
        raise ValueError(f"pages table {path}: no data file")
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    src = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(files[0]), conf
    )
    with contextlib.closing(jvm.org.apache.parquet.hadoop.ParquetFileReader.open(src)) as reader:
        footer = reader.getFooter().getFileMetaData().getSchema()
    for name in ("url", "html"):
        col = footer.getType(name) if footer.containsField(name) else None
        if not (col and col.isPrimitive() and col.asPrimitiveType().getPrimitiveTypeName().name() == "BINARY"):
            found = str(col).strip() if col else "no such column"
            raise ValueError(f"pages table {path}: column {name!r} must be BINARY, {files[0]} has {found}")
    return pages


def _committed(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The committed table, or None if nothing is committed yet (no path,
    or no data file under it). Any other read error raises: a table
    Spark refuses, taken as empty, would re-queue every committed url
    on resume and publish an all-zero manifest."""
    try:
        table = read_result(spark, out_dir)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    # the read has already listed the files: no Spark job here
    return table if table.inputFiles() else None


def filter_pending(pages: DataFrame, out_dir: str) -> DataFrame:
    """Resume-from-checkpoint: keep only urls absent from the committed
    result table (left-anti join on the bucketed snapshot)."""
    done = _committed(pages.sparkSession, out_dir)
    if done is None:
        return pages
    return pages.join(done.select("url"), "url", "left_anti")
