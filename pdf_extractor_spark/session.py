"""SparkSession factory tuned for the extraction pipeline.

Local mode is a stand-in for a multi-executor cluster: every setting
here is chosen so the same job scales to 1000 executors reading 100 TB
(AQE on, Arrow transport for the pandas stages, shuffle partitions
sized to cores, small Arrow batches because payload rows are fat).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _host_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _host_driver_mem() -> str:
    """A quarter of the host's MemTotal, at least 1g."""
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, mem_kb // (4 << 20))}g"


DEFAULT_SHUFFLE_PARTITIONS = int(_host_cpus())


def release_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``
    together with its archive's cached directory.

    PySpark calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark/worker_util.py``). On CPython 3.11 that makes
    each cached zipimporter re-read its whole archive directory at
    once: a reused Spark 4.1 worker holds 16 of them (pyspark.zip and
    the spark-core jar), about 0.23 s of CPU per task on a 4 vCPU x86
    host. Calling this at the end of a stage generator leaves the next
    task's ``invalidate_caches()`` nothing to re-read. An import that
    does need an archive later builds a fresh importer, which reads
    the directory then, so a rewritten archive is still seen. CPython
    3.12 defers the re-read itself (gh-103200): delete this helper
    once workers run Python >= 3.12.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
            zipimport._zip_directory_cache.pop(finder.archive, None)


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    arrow_batch_rows is deliberately small: a pages row can carry a
    multi-MB binary payload, so the Arrow batch size — not the row
    count — is what bounds Python-worker memory. 256 fat rows per
    batch keeps a worker under ~1 GB even for 4 MB documents.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_host_cpus()}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # fat-payload scan granularity: pages rows carry multi-KB..MB
        # binary payloads, so 128 MB splits (default) bin-pack many
        # files into few tasks — starving cores and breaking the
        # bucket-per-task alignment of pre-bucketed input. 16 MB keeps
        # splits ≈ files for bucketed layouts and bounds the payload
        # bytes a single Python stage instance holds.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # commit algorithm v2: task-side commit renames instead of a
        # serial driver-side pass — matters for many-bucket layouts
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
