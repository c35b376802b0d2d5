"""Layered benchmark of the extraction job: scan -> operators.extract ->
io.write_result -> lineage manifest, on one seeded workload.

Run from the repository root:

    python3 bench_extract/run.py --workload warc_html --seed 1 --seconds 20 --trace 0

The workloads, warc_html and resume_append, are described in
workloads.py. A run

  1. derives Spark's core count and driver memory from this host;
  2. sets up the SparkSession in a fresh JVM plus one untimed
     full-pipeline warm-up job and reports the time as ``setup_s``.
     The warm-up runs on a small corpus of a fixed seed, built once per
     checkout, so that the seed's own inputs can be built after the
     set-up's clock has stopped;
  3. builds the seed's inputs and oracle rows, once per (workload,
     seed, size, source hash), outside every metric, and runs three
     untimed jobs on them;
  4. repeats the timed job until ``--seconds`` of jobs are measured and
     checks every committed row and the lineage manifest of the last
     one, outside the timed window;
  5. with ``--trace 1``, traces half of the timed jobs, runs the
     extraction stage single-process with every layer wrapped in a
     span, times the compute stage, an Arrow passthrough and a
     ``local[1]`` compute stage, and writes the spans under
     ``.bench_work/trace/``.

Stdout carries one ``name value unit`` line per metric, then one JSON
line with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. Everything else goes to stderr. The exit code is 1 when
any committed row or the manifest is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from check import check_output
from layers import NullTracer, Tracer, descendants, python_stage_pass, wait_exited, worker_peak_rss_mb

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
# the corpus the set-up warms up on: 8 documents per bucket
WARMUP_SEED, WARMUP_DOCS = 0, 128
WARM_JOBS = 3  # untimed jobs on the seed's inputs before the timed ones
MIN_JOBS = 3  # timed jobs per run, however long they take
MB = 1e6


def host_settings() -> int:
    """Point the session's env knobs at this host and keep every file
    the run writes inside the checkout. Returns the core count."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gb = max(1, min(16, mem_kb // (4 << 20)))  # a quarter of the host
    paths = [str(ROOT), str(ROOT / "tests"), str(ROOT / "bench_extract")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
            "TMPDIR": str(WORK / "tmp"),
            # Spark packs files smaller than its 4 MB per-file open cost
            # into shared scan tasks up to this size; at the open cost
            # each input file is its own task, the shape production-size
            # files get, so a task of a bucketed input holds one bucket
            "SPARK_GRAFT_MAX_PARTITION_BYTES": str(4 << 20),
            "PYTHONPATH": os.pathsep.join(paths),  # Spark's Python workers
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.path[:0] = paths[:3]
    return ncpu


SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
    "spark.sql.warehouse.dir": str(WORK / "warehouse"),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[bench_extract {time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def _session(master: str | None = None):
    from pdf_extractor_spark.session import get_spark

    return get_spark("bench_extract", master=master, extra_conf=SPARK_CONF)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _table_files(out_dir: str) -> list[int]:
    sizes = []
    for dirpath, _, files in os.walk(os.path.join(out_dir, "result")):
        sizes += [os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")]
    return sizes


def _stop_jvm() -> None:
    """Stop Spark and the JVM PySpark launched, wait until the JVM (it
    exits when its stdin closes) and its Python workers have ended, and
    let the next session launch a fresh JVM."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    wait_exited(started, timeout=60)


def setup(wl, inp, warm_dir: str, tracer):
    """SparkSession in a fresh JVM plus one untimed full-pipeline
    warm-up job on ``inp``; returns (spark, seconds)."""
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = _session()
    with tracer.span("session.warmup"):
        wl.reset_output(inp, warm_dir)
        wl.run_job(spark, inp, warm_dir, NullTracer())
    return spark, time.perf_counter() - t0


def timed_jobs(spark, wl, inp, out_dir: str, expected, seconds: float, tracer) -> list[dict]:
    """Run jobs until ``seconds`` of job time is measured, then check the
    committed table untimed. A real ``tracer`` traces half of the jobs,
    in the order traced, untraced, untraced, traced, so that a drift
    over the run does not favour either side."""
    tracing = isinstance(tracer, Tracer)
    jobs: list[dict] = []
    while len(jobs) < (4 if tracing else MIN_JOBS) or sum(j["s"] for j in jobs) < seconds:
        traced = tracing and len(jobs) % 4 in (0, 3)
        wl.reset_output(inp, out_dir)
        t0 = time.perf_counter()
        stats = wl.run_job(spark, inp, out_dir, tracer if traced else NullTracer())
        elapsed = time.perf_counter() - t0
        log(f"job {len(jobs)}: {elapsed:.3f} s{' traced' if traced else ''}")
        jobs.append(
            {
                "s": elapsed,
                "stats": stats,
                "traced": traced,
                "rss_mb": worker_peak_rss_mb(),
                "table": _table_files(out_dir),
            }
        )
    # every job commits the same rows: check the last one's table
    jobs[-1].update(check_output(spark, out_dir, expected))
    log("output checked")
    return jobs


def trace_extras(spark, wl, inp, out_dir: str, ncpu: int, docs: int, tracer) -> dict:
    """Per-layer numbers that need their own passes (traced run only)."""
    from pdf_extractor_spark.operators.extract import extract_pages

    m: dict[str, float] = {}
    null = NullTracer()
    wl.reset_output(inp, out_dir)
    pending = wl.pending_pages(spark, inp, out_dir, null).select("url", "html")
    m["scan.tasks"] = wl.pages(spark, inp).rdd.getNumPartitions()
    m["io.rows_skipped"] = wl.pages(spark, inp).count() - pending.count()
    rows = pending.toPandas()
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    with tracer.span("python_stage_pass"):
        m.update(python_stage_pass(rows, batch_rows, tracer))
    m["extract.compute_stage_s"] = _noop(extract_pages(pending))
    m["extract.arrow_passthrough_s"] = _noop(
        pending.mapInPandas(lambda it: it, schema="url string, html binary")
    )
    if inp.name == "warc_html":
        m["warc.parse_stage_s"] = _noop(wl.pages(spark, inp))
        m["warc.archives"] = len(wl.pages(spark, inp).inputFiles())
        m["warc.records"] = len(rows)
    else:
        m["warc.parse_stage_s"] = m["warc.archives"] = m["warc.records"] = 0
    rate_n = docs / m["extract.compute_stage_s"]

    # weak scaling: local[1] over 1/ncpu of the input against
    # local[ncpu] over all of it
    spark.stop()
    spark1 = _session("local[1]")
    try:
        wl.reset_output(inp, out_dir)
        sub = wl.pending_pages(spark1, inp, out_dir, null, share=1.0 / ncpu).select("url", "html")
        sub_docs = sub.count()
        _noop(extract_pages(sub))  # warm-up of the fresh session
        rate_1 = sub_docs / _noop(extract_pages(sub))
    finally:
        spark1.stop()
    m["extract.scaling_eff_1toN"] = rate_n / (ncpu * rate_1)
    return m


def measure(args, wl, inp, run_dir: str, ncpu: int):
    """Set-ups, timed jobs and (traced) layer passes of one run.
    Returns (metrics, failed, attempted, correct)."""
    out_dir, warm_dir = os.path.join(run_dir, "out"), os.path.join(run_dir, "warm")
    tracer = Tracer() if args.trace else NullTracer()
    warm = wl.inputs_for(WORK, args.workload, WARMUP_SEED, WARMUP_DOCS)
    if not warm.ready():
        wl.prepare(_session(), warm)
        _stop_jvm()
    spark, setup_s = setup(wl, warm, warm_dir, tracer)
    log(f"set-up: {setup_s:.3f} s")
    if not inp.ready():
        t0 = time.perf_counter()
        wl.prepare(spark, inp)
        log(f"inputs built in {time.perf_counter() - t0:.3f} s")
    # untimed jobs on the seed's own inputs: the JVM's compiler keeps
    # speeding the job up over about its first five jobs
    for _ in range(WARM_JOBS):
        wl.reset_output(inp, out_dir)
        wl.run_job(spark, inp, out_dir, NullTracer())
    log("untimed jobs done")
    expected = inp.load_expected()
    job_rows = inp.job_rows(expected)
    docs, payload_mb = len(job_rows), sum(r[8] for r in job_rows) / MB

    jobs = timed_jobs(spark, wl, inp, out_dir, expected, args.seconds, tracer)
    attempted = len(expected)  # documents the check covers
    failed = jobs[-1]["doc_errors"]
    correct = failed == 0 and jobs[-1]["manifest_ok"]
    med = statistics.median
    if not args.trace:
        metrics = {
            "docs_per_s": med(docs / j["s"] for j in jobs),
            "payload_mb_per_s": med(payload_mb / j["s"] for j in jobs),
            "setup_s": setup_s,
            "worker_peak_rss_mb": max(j["rss_mb"] for j in jobs),
            "table_bytes_per_doc": med(sum(j["table"]) for j in jobs) / jobs[-1]["rows"],
        }
        return metrics, failed, attempted, correct

    traced = [j for j in jobs if j["traced"]]
    metrics = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "session.warmup_s": tracer.total("session.warmup"),
        "io.write_result_s": med(tracer.durations("io.write_result")),
        "io.write_s": med(j["stats"]["write_sec"] for j in traced),
        "io.lineage_s": med(j["stats"]["lineage_sec"] for j in traced),
        "io.filter_pending_s": med(tracer.durations("io.filter_pending") or [0.0]),
        "io.table_files": len(jobs[-1]["table"]),
        "io.table_mb": sum(jobs[-1]["table"]) / MB,
        "trace.docs_per_s_traced": med(docs / j["s"] for j in traced),
        "trace.docs_per_s_untraced": med(docs / j["s"] for j in jobs if not j["traced"]),
        "check.doc_error_ratio": failed / attempted,
    }
    metrics.update(trace_extras(spark, wl, inp, out_dir, ncpu, docs, tracer))
    tracer.write(str(WORK / "trace" / f"{args.workload}-s{args.seed}.json"))
    return metrics, failed, attempted, correct


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["warc_html", "resume_append"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    ncpu = host_settings()
    # Spark and its JVM inherit fd 1: point it at stderr so stdout
    # carries only the metric lines printed at the end
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    import workloads as wl

    inp = wl.inputs_for(WORK, args.workload, args.seed)

    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    try:
        metrics, failed, attempted, correct = measure(args, wl, inp, str(run_dir), ncpu)
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}", file=stdout)
    if not args.trace:
        print(f"doc_error_ratio {failed / attempted:.6g} ratio", file=stdout)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result), file=stdout, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
