"""SparkSession factory tuned for the extraction pipeline.

Local mode is a stand-in for a multi-executor cluster: every setting
here is chosen so the same job scales to 1000 executors reading 100 TB
(AQE on, Arrow transport for the pandas stages, shuffle partitions
sized to cores, small Arrow batches because payload rows are fat).

Python workers talk to their executor over a Unix domain socket
(``spark.python.unix.domain.socket.enabled``), and so do the driver's
accumulator server and the ``collect``/``toPandas``/``createDataFrame``
transfers. Spark names each socket ``<dir>/.<uuid>.sock``, the dir plus
43 bytes, and Linux caps a socket path at 107 bytes: a socket dir
longer than 64 bytes fails the session at start. Spark's default dir
is ``java.io.tmpdir``, which callers may point anywhere (bench_extract
points it into its checkout), so the dir is pinned to ``/tmp``.
"""

from __future__ import annotations

import gc
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import zipimport
from pathlib import Path

from pyspark import SparkContext, TaskContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def _host_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _host_driver_mem() -> str:
    """A quarter of the host's MemTotal, at least 1g."""
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, mem_kb // (4 << 20))}g"


DEFAULT_SHUFFLE_PARTITIONS = int(_host_cpus())


_worker_tuned = False  # set once per Spark Python worker process


def trim_per_task_costs() -> None:
    """Remove two fixed costs a reused Spark Python worker pays on
    every task. Stage generators call this when they end.

    Zip importers: PySpark calls ``importlib.invalidate_caches()`` at
    the start of every task (``pyspark/worker_util.py``). On CPython
    3.11 that makes each cached zipimporter re-read its whole archive
    directory at once: a reused Spark 4.1 worker holds 16 of them
    (pyspark.zip and the spark-core jar), about 0.23 s of CPU per task
    on a 4 vCPU x86 host. Every call drops each ``zipimporter`` from
    ``sys.path_importer_cache`` together with its archive's cached
    directory, so the next task's ``invalidate_caches()`` has nothing
    to re-read. An import that does need an archive later builds a
    fresh importer, which reads the directory then, so a rewritten
    archive is still seen. CPython 3.12 defers the re-read itself
    (gh-103200): drop this part once workers run Python >= 3.12.

    Daemon GC: after each task of a reused worker, PySpark's daemon
    runs a full ``gc.collect()`` (``pyspark/daemon.py:244``). A worker
    holding the pipeline's imports tracks ~73.6k objects: in a job of
    4 workers on a 4 vCPU host that collection took 17-113 ms per task
    (median 43). The first call in a Spark Python worker collects once
    and then ``gc.freeze()``s what survives, so every later collection
    scans only what tasks allocate (~200 objects, under 0.2 ms). It
    freezes once per process: objects frozen after every task could
    leak as cyclic garbage.

    Outside a Spark task (the driver, tests) the heap is not touched.
    Whether a worker is set up is a flag, not ``gc.get_freeze_count()``:
    that walks the frozen objects, ~4 ms of every task on a frozen
    import heap.
    """
    global _worker_tuned
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
            zipimport._zip_directory_cache.pop(finder.archive, None)
    if not _worker_tuned and TaskContext.get() is not None:
        gc.collect()
        gc.freeze()
        _worker_tuned = True


# The driver JVM's option the class-data-sharing flag rides on. Callers
# (bench_extract) set spark.driver.extraJavaOptions, which stays theirs.
_JAVA_OPTS = "spark.driver.defaultJavaOptions"
# classpath entries the launcher adds from outside $SPARK_HOME/jars:
# the archive's key cannot see them, so their presence turns CDS off
_CLASSPATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_BUILD_TIMEOUT_S = 600
_failed_builds: set[str] = set()  # keys whose build failed in this process


class CdsUnavailable(Exception):
    """Why the driver cannot start on a class-data-sharing archive."""


def cds_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base, "pdf_extractor_spark", "cds")


def _java_home() -> Path:
    """The runtime spark-class launches: $JAVA_HOME/bin/java, else the
    java on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        raise CdsUnavailable("no java runtime found")
    return Path(os.path.realpath(java)).parent.parent


def archive_key(spark_home: str | Path, java_home: str | Path) -> str:
    """Identity of the driver JVM's runtime and classpath, read from
    file metadata without starting a JVM (``java -version`` costs
    ~80 ms): the runtime's ``release`` file, the realpath, size and
    mtime of ``java`` and ``libjvm.so``, and every Spark jar's name,
    size and mtime."""
    h = hashlib.sha256(Path(java_home, "release").read_bytes())
    for f in (Path(java_home, "bin", "java"), Path(java_home, "lib", "server", "libjvm.so")):
        real = os.path.realpath(f)
        st = os.stat(real)
        h.update(f"{real} {st.st_size} {st.st_mtime_ns}\n".encode())
    for jar in sorted(Path(spark_home, "jars").glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _conf_env(spark_home: str | Path) -> dict[str, str]:
    """The launch environment the archive can serve. The launcher puts
    the conf dir on the classpath, and CDS refuses a non-empty
    directory there; a conf dir of nothing but ``*.template`` files is
    swapped for an empty one."""
    for var in _CLASSPATH_VARS:
        if os.environ.get(var):
            raise CdsUnavailable(f"{var} is set")
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    live = sorted(n for n in os.listdir(conf) if not n.endswith(".template")) if os.path.isdir(conf) else []
    if live:
        raise CdsUnavailable(f"conf dir {conf} holds {live[0]}")
    empty = cds_dir() / "conf"
    empty.mkdir(parents=True, exist_ok=True)
    return {"SPARK_CONF_DIR": str(empty)}


def usable(archive: Path) -> bool:
    """True for a published archive only: its size matches the sidecar
    written after a build that exited 0. A truncated archive passed to
    the JVM is a fatal error, not a fallback."""
    try:
        return archive.stat().st_size == int(archive.with_suffix(".size").read_text())
    except (OSError, ValueError):
        return False


def _train_command(tmp: Path) -> list[str]:
    code = "import sys; from pdf_extractor_spark.session import _train; _train(sys.argv[1])"
    return [sys.executable, "-c", code, str(tmp)]


def warm_up(spark) -> None:
    """Spawn the Python workers with an identity ``mapInPandas``, then
    run the CLI's job (``cli.run_job``) on 256 synthesized pages:
    extraction and a bucketed write with its lineage. So the
    class-data-sharing archive holds the classes the job loads: Python
    worker spawn, whole-stage codegen, the parquet/zstd writer and the
    committer."""
    from .cli import run_job

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 32 * n, 1, n).mapInPandas(lambda it: it, schema="id long").count()
    warm_dir = tempfile.mkdtemp(prefix="pdfx_warm_")
    try:
        run_job(spark, synthesize=256, seed=0, output=warm_dir, buckets=4)
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)


def _train(tmp: str) -> None:
    """Child process of a build: run the pipeline warm-up in a JVM that
    dumps the classes it loaded to ``tmp`` when it exits, and exit
    with that JVM's status."""
    spark = _builder("pdf_extractor_cds_train", extra_conf={_JAVA_OPTS: f"-XX:ArchiveClassesAtExit={tmp}"}).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warm_up(spark)
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
    sys.exit(gateway.proc.wait())


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _prune(keep: Path) -> None:
    """Leave one archive in the cache: delete other keys' archives and
    sidecars, and the ``.tmp`` files of builds whose process is gone."""
    for f in keep.parent.iterdir():
        if f.stem == keep.stem or f.suffix not in (".jsa", ".size", ".tmp"):
            continue
        if f.suffix == ".tmp":
            pid = f.stem.rpartition(".")[2]
            if not pid.isdigit() or _pid_alive(int(pid)):
                continue
        f.unlink(missing_ok=True)


def _build(archive: Path, env: dict[str, str]) -> None:
    """Train an archive in a child process and publish it atomically:
    renamed into place, then its size sidecar written, only after the
    child and its JVM exited 0."""
    tmp = archive.with_name(f"{archive.stem}.{os.getpid()}.tmp")
    pkg_root = str(Path(__file__).resolve().parent.parent)
    child_env = {
        **os.environ,
        **env,
        "PYTHONPATH": os.pathsep.join(filter(None, [pkg_root, os.environ.get("PYTHONPATH")])),
    }
    try:
        proc = subprocess.run(
            _train_command(tmp),
            env=child_env,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            timeout=_BUILD_TIMEOUT_S,
        )
        if proc.returncode != 0 or not tmp.is_file():
            tail = proc.stdout.decode(errors="replace").strip().splitlines()[-1:]
            raise CdsUnavailable(f"archive build exited {proc.returncode}: {' '.join(tail)}")
        size = tmp.stat().st_size
        os.replace(tmp, archive)
        archive.with_suffix(".size").write_text(str(size))
    finally:
        tmp.unlink(missing_ok=True)
    _prune(archive)


def driver_cds() -> tuple[str, dict[str, str]] | None:
    """The java options and launch environment that start the driver
    JVM on this host's class-data-sharing archive (JEP 350), building
    the archive on a miss. None, after one warning, when no archive can
    serve this launch; the job then starts normally."""
    from pyspark.find_spark_home import _find_spark_home

    try:
        spark_home = _find_spark_home()
        env = _conf_env(spark_home)
        key = archive_key(spark_home, _java_home())
    except (CdsUnavailable, OSError) as exc:
        log.warning("driver JVM starts without class-data sharing: %s", exc)
        return None
    archive = cds_dir() / f"{key}.jsa"
    # the JVM logs an unusable archive to stdout, the job summary's
    # stream; its cds warnings go to stderr instead
    flag = f"-XX:SharedArchiveFile={shlex.quote(str(archive))} -Xlog:cds*=off -Xlog:cds*=warning:stderr"
    if usable(archive):
        return flag, env
    if key in _failed_builds:
        return None
    t0 = time.perf_counter()
    try:
        _build(archive, env)
    except (CdsUnavailable, OSError, subprocess.SubprocessError) as exc:
        _failed_builds.add(key)
        log.warning("driver JVM starts without class-data sharing: %s", exc)
        return None
    log.info("built %s (%.0f MB) in %.1f s", archive, archive.stat().st_size / 1e6, time.perf_counter() - t0)
    return flag, env


_ARROW_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
_ARROW_BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"


def arrow_batch_limits(spark) -> tuple[int, int]:
    """The session's Arrow batch limits: (rows, bytes). The WARC record
    loop closes its pages batches at the same two."""
    return int(spark.conf.get(_ARROW_ROWS)), int(spark.conf.get(_ARROW_BYTES))


def _launches_jvm() -> bool:
    """True when building a session here starts the driver JVM: none is
    live in this process and spark-submit handed no gateway down."""
    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def _builder(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession.Builder:
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # An Arrow batch closes at 256 rows or right after the row that
        # takes it past 64 MiB. The byte cap (Spark's default, named
        # here) is what bounds a Python worker's batch: pages rows carry
        # multi-MB payloads, so 4 MB docs arrive ~17 to a batch, and a
        # doc over 64 MiB is a batch of its own.
        .config(_ARROW_ROWS, "256")
        .config(_ARROW_BYTES, str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # fat-payload scan granularity: pages rows carry multi-KB..MB
        # binary payloads, so 128 MB splits (default) bin-pack many
        # files into few tasks — starving cores and breaking the
        # bucket-per-task alignment of pre-bucketed input. 16 MB keeps
        # splits ≈ files for bucketed layouts. It alone sizes the tasks
        # of an unbucketed parquet --input: a split is
        # min(16 MB, max(openCostInBytes, input bytes / cores)) of file
        # bytes, and a task reads the whole row groups whose midpoints
        # fall in its split, so a row group is the finest task size.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # commit algorithm v2: task-side commit renames instead of a
        # serial driver-side pass — matters for many-bucket layouts
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # the worker transport and its pinned dir (module docstring)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", "/tmp")
    )
    if _launches_jvm():
        # under spark-submit the master and the heap are set before
        # Python runs: a default here would override its --master, and
        # the conf would report a heap the JVM does not have
        master = master or f"local[{_host_cpus()}]"
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    When this call launches the driver JVM, it starts the JVM on the
    host's class-data-sharing archive (driver_cds), merged ahead of
    any spark.driver.defaultJavaOptions in ``extra_conf``. Under
    spark-submit the JVM is already running: pass the options that
    ``python -m pdf_extractor_spark.session`` prints instead.
    """
    builder = _builder(app_name, master, shuffle_partitions, extra_conf)
    launch_env: dict[str, str] = {}
    if _launches_jvm():
        cds = driver_cds()
        if cds:
            flag, launch_env = cds
            caller = (extra_conf or {}).get(_JAVA_OPTS)
            builder = builder.config(_JAVA_OPTS, f"{flag} {caller}" if caller else flag)
    saved = {k: os.environ.get(k) for k in launch_env}
    os.environ.update(launch_env)  # for the gateway launch only
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> int:
    """Build this host's archive if needed and print the matching
    spark-submit command prefix: under spark-submit the driver JVM
    starts before Python runs, so ``get_spark`` cannot add the flag."""
    from pyspark.find_spark_home import _find_spark_home

    logging.basicConfig(level=logging.INFO, format="%(message)s")
    cds = driver_cds()
    if cds is None:
        return 1
    flag, env = cds
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    conf = shlex.quote(env["SPARK_CONF_DIR"])
    print(f"SPARK_CONF_DIR={conf} {shlex.quote(submit)} --driver-java-options={shlex.quote(flag)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
