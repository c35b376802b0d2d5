#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[<CPUs>]`` (``session._host_cpus()``) and prints ONE JSON line:

    {"metric": "headline_suite_wall_clock", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...,
     "extra": {"docs_per_sec_flagship": N, "cores": N}}

``value`` is the total wall-clock over the headline set.  Per-query
timings cover the full action (plan + execute + count), measured after
a warm-up query so JVM/codegen startup is not billed to the first
entry.  Nothing is written to disk.

The extraction job's own performance harness (end-to-end docs/s and
MB/s, set-up time, worker RSS, table bytes and per-layer spans, under
the bounds in ``BENCHMARK.json``) is ``bench_extract/run.py``.

Usage:
    python bench.py
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

# Headline set: the flagship Arrow extraction pipelines plus the most
# load-bearing relational / training-data operators.  Every name must
# exist in __spark_entry__.queries().
HEADLINE = [
    "outline_extract",      # flagship: spans -> merge fold -> 3-pass analyzer
    "html_extract",         # HTML boilerplate strip path
    "tpch_q1_agg",          # wide hash aggregate over lineitem (600k rows @ sf0.1)
    "tpch_q3_topk",         # 3-way join + agg + top-k
    "tpch_q5_join_chain",   # 6-table broadcast join chain
    "m1_sessionize_events", # gaps-and-islands sessionization (window + cumsum)
    "dedup_exact",          # hash-groupBy dedup over documents
    "dedup_minhash_bands",  # MinHash+LSH band-bucket near-dup
    "dedup_simhash32",      # SimHash hamming near-dup
    "ann_cosine_topk",      # brute-force cosine top-k over embeddings
    "ann_ivf_topk",         # IVF-Flat ANN (nprobe cell search)
    "emb_neardup_lsh",      # LSH-bucketed embedding near-dup (scale path)
    "lang_id",              # n-gram language heuristic + token counts (merged r4)
    "text_quality",         # quality scoring over documents
    "outline_stats",        # flagship digests vs refimpl truth (hash-matched row)
    "c_scoring_chain",      # the reference's heading-score when() chain
    "g11_level_clusters",   # font-cluster level map (dense_rank)
    "pdf_payload_extract",  # real %PDF bytes through the pure-Python parser
    "fingerprint_winnow",   # shuffle-free winnowing fingerprint (round 2)
]

# stdout carries the contract line only: no console progress bars
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}


def _run_once(sf_dir: str, master: str, shuffle: int) -> dict:
    """Run the headline set on a fresh SparkSession; return timings."""
    from pyspark.sql import SparkSession

    from pdf_extractor_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

    spark = get_spark("bench", master=master, shuffle_partitions=shuffle, extra_conf=SPARK_CONF)
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # Warm-up: one cheap SQL query (JVM / codegen) plus one tiny
    # mapInPandas job (spins up every Python worker — at 100 TB scale
    # worker startup amortizes to zero, so billing it to the first
    # headline query would misstate steady-state throughput).
    qs["dedup_exact"](spark, sf_dir).count()
    spark.range(0, 1024, 1, shuffle).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # Best-of-2 per query (best-of-3 when the first two disagree by
    # >25%, i.e. a co-tenant burst hit one of them): min is the
    # steady-state estimator for a deterministic workload.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in HEADLINE:
        fn = qs[name]
        samples = []
        for _ in range(2):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        if abs(samples[0] - samples[1]) / max(min(samples), 1e-9) > 0.25:
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 4)
        rows[name] = n
    total = sum(timings.values())

    # flagship docs/sec at this parallelism (payload-bearing pipeline)
    n_docs = rows["outline_extract"]
    docs_per_sec = n_docs / timings["outline_extract"] if timings["outline_extract"] else 0.0
    spark.stop()
    return {
        "total_sec": round(total, 3),
        "queries": timings,
        "rows": rows,
        "docs_per_sec": round(docs_per_sec, 1),
    }


def contract_mode() -> None:
    from pdf_extractor_spark.session import _host_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(_host_cpus())
    res = _run_once(sf_dir, master=f"local[{cpus}]", shuffle=cpus)
    try:
        sf = float(Path(sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = None
    out = {
        "metric": "headline_suite_wall_clock",
        "value": res["total_sec"],
        "unit": "sec",
        "queries": res["queries"],
        "sf": sf,
        "extra": {"docs_per_sec_flagship": res["docs_per_sec"], "cores": cpus},
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    argparse.ArgumentParser(
        description="Time the headline query suite and print one JSON line "
        "(data dir: $SPARK_GRAFT_SF_DIR). The extraction job's layered "
        "benchmark is bench_extract/run.py."
    ).parse_args()
    contract_mode()
