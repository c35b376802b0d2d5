"""Structured Streaming surface.

The reference is pure batch (SURVEY.md §2.10: no streaming anywhere in
/root/reference), so this layer is the Spark-native extension a
continuously-crawled corpus needs:

  - ``stream_extract``: incremental extraction — a file-source stream
    of pages micro-batched through the SAME ``extract_pages`` plan and
    committed through the SAME bucketed writer (foreachBatch →
    io.write_result append). Checkpointing makes the job restartable;
    the url-level idempotency of the batch resume path carries over.
  - ``windowed_event_counts``: tumbling-window counts with a watermark
    (late-data bound) over an events stream.
  - ``session_windows``: gap-based sessionization via
    ``F.session_window`` — the streaming twin of the batch
    m1_sessionize_events query (same 30-min gap semantics).

Everything is a plain DataFrame transformation, so each works
identically on a batch frame (unit tests run both ways; the batch
result is the oracle for the availableNow streaming run).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..schemas import PAGES_SCHEMA
from ..sources.warc import parse_stage

# HDFSMetadataLog write-temp: ".<batchId>.<uuid>.tmp", renamed to
# "<batchId>" on commit. One that still exists was never renamed,
# i.e. never committed.
_METADATA_TMP_RE = re.compile(r"^\.\d+\.[0-9a-fA-F-]+\.tmp$")

# Event-time aggregation constants; the DuckDB oracles of
# stream_windowed_counts and stream_session_windows (plans/queries.py)
# spell out the same window and gap.
WINDOW = "1 hour"
SESSION_GAP = "30 minutes"
WATERMARK = "2 hours"  # late-data bound; a no-op on batch frames


def sanitize_checkpoint(spark: SparkSession, checkpoint_dir: str) -> int:
    """Remove uncommitted metadata-log temp files left by a crash.

    Spark's offset/commit logs write ``.<batchId>.<uuid>.tmp`` then
    rename to ``<batchId>``; a kill between the two leaves the temp
    behind. Usually harmless — but if the crash landed before the
    FIRST offset commit, restart sees no committed batch, classifies
    the query as NEW, and ``verifyNewCheckpointDirectory`` fails with
    STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY because the offsets dir
    is non-empty: the query is permanently unrestartable without
    manual cleanup (found by tools/fuzz_sweep.py --stream-warc, seed
    987654 trial 13). A surviving temp was by construction never
    committed, so deleting it is always safe; committed batch files
    (bare digits) are never touched. Goes through the Hadoop
    FileSystem API so the same cleanup works on hdfs://, s3a:// and
    file: checkpoints. Returns the number of temp files removed.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    removed = 0
    for sub in ("offsets", "commits"):
        path = jvm.org.apache.hadoop.fs.Path(checkpoint_dir, sub)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            continue
        for status in fs.listStatus(path):
            name = status.getPath().getName()
            if _METADATA_TMP_RE.match(name):
                fs.delete(status.getPath(), False)
                removed += 1
    return removed


def stream_pages(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream of pages parquet (one micro-batch per file
    group). maxFilesPerTrigger bounds micro-batch payload volume."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_warc_pages(
    spark: SparkSession, input_dir: str, max_files: int = 4
) -> DataFrame:
    """Streaming twin of sources.warc.pages_from_warc: a binaryFile
    stream over a crawl landing directory — each newly-arrived
    ``*.warc``/``*.warc.gz`` archive becomes one micro-batch unit and
    parses into pages rows through the batch ingest's parse stage
    (``warc.parse_stage``). maxFilesPerTrigger bounds micro-batch
    payload volume (archives are ~1 GB each in a real crawl). Compose
    with stream_extract for checkpointed, resumable ingest-as-it-arrives:
    the file source's checkpoint dedups archives across restarts, and
    stream_extract's url anti-join dedups re-shipped urls."""
    reader = (
        spark.readStream
        # binaryFile's schema is fixed but the streaming source still
        # demands it explicitly (no inference on streams)
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("maxFilesPerTrigger", max_files)
    )
    return parse_stage(reader, input_dir)


def stream_extract(
    pages_stream: DataFrame, out_dir: str, checkpoint_dir: str, n_buckets: int = 32
):
    """Run the extraction pipeline incrementally under an availableNow
    trigger: the query drains what has landed, then stops. Every
    micro-batch is committed through the batch writer (bucketed layout
    + cumulative lineage manifest), so downstream consumers cannot tell
    whether a snapshot was produced by the batch or the streaming
    job."""
    from .. import io as pio

    # crash-recovery: clear uncommitted metadata-log temps so a kill
    # that landed mid-first-offset-commit doesn't brick the restart
    sanitize_checkpoint(pages_stream.sparkSession, checkpoint_dir)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # url-level idempotency: the file source dedups FILES, but a
        # crawler can re-ship an already-extracted url in a new file;
        # the same anti-join the batch resume path uses makes the
        # streaming commit exactly-once per url. The anti-join only
        # sees COMMITTED urls, so a re-ship landing in the SAME
        # micro-batch as its original still duplicates — found by the
        # checkpoint-kill fuzz (tools/fuzz_sweep.py --stream-warc) —
        # hence the within-batch dropDuplicates; its shuffle is
        # bounded by micro-batch size (maxFilesPerTrigger), never the
        # corpus
        pending = pio.filter_pending(batch_df, out_dir).dropDuplicates(["url"])
        result = extract_pages(pending, keep_failed=True)
        pio.write_result(result, out_dir, n_buckets=n_buckets, mode="append")

    return (
        pages_stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window per-type counts; the watermark bounds state for
    late events (required for streaming, a no-op on batch frames)."""
    # watermarks require tz-aware TIMESTAMP; parquet events arrive NTZ
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = src.withWatermark("ts", WATERMARK) if src.isStreaming else src
    return (
        src.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user (session closes after
    SESSION_GAP of inactivity) — F.session_window keeps state per key
    and is the idiomatic streaming form of the batch lag+cumsum
    sessionization."""
    src = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = src.withWatermark("ts", WATERMARK) if src.isStreaming else src
    return (
        src.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )

