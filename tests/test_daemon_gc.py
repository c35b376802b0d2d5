"""Reused Python workers freeze their import heap once.

After each task of a reused worker, PySpark's daemon runs a full
``gc.collect()`` (``pyspark/daemon.py``), which scans every tracked
object the worker holds: the pipeline's imports are ~73.5k of them.
``session.trim_per_task_costs`` runs at the end of the job path's stage
generators; its first call inside a Spark worker collects once and
freezes what survives, so later collections scan only what tasks
allocate. These tests pin that later tasks run on a frozen heap, that
garbage a task leaves is still collected before the worker's next
task (nothing is frozen per task), and that a call outside a Spark
task leaves the calling process's heap and sockets alone. One more
pins the worker transport the session sets: a reused worker talks to
its executor over a Unix domain socket and holds no TCP socket.
"""

from __future__ import annotations

import gc
import socket

import pandas as pd

from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators.extract import _run_batches
from pdf_extractor_spark.sources.warc import parse_content_batches

_HTML = b"<html><head><title>t</title></head><body><p>hello gc world</p></body></html>"


def test_reused_worker_freezes_once_and_still_collects_task_garbage(spark):
    def probe(batches):
        import gc
        import os
        import sys
        import time
        import weakref

        t0 = time.monotonic_ns()
        frozen = gc.get_freeze_count()
        # the cycle the previous task of this worker left behind, if it
        # was made after the heap was frozen: 1 = collected, 0 = leaked
        prev = getattr(sys, "_task_cycle", None)
        prev_dead = -1 if prev is None or not prev[1] else int(prev[0]() is None)

        class Node:
            pass

        a, b = Node(), Node()
        a.peer, b.peer = b, a
        sys._task_cycle = (weakref.ref(a), frozen > 0)
        # the cycle is alive when the stage ends, and garbage right after
        docs = sum(len(out) for out in _run_batches(batches))
        del a, b
        yield pd.DataFrame(
            {"pid": [os.getpid()], "t": [t0], "frozen": [frozen], "prev_dead": [prev_dead], "docs": [docs]}
        )

    n_tasks = 32
    pages = spark.range(0, 2 * n_tasks, 1, n_tasks).selectExpr(
        "concat('u', id) AS url", f"CAST('{_HTML.decode()}' AS BINARY) AS html"
    )
    tasks = (
        pages.mapInPandas(probe, "pid long, t long, frozen long, prev_dead long, docs long")
        .toPandas()
        .sort_values(["pid", "t"])
    )
    assert tasks["docs"].sum() == 2 * n_tasks
    later = tasks[tasks.duplicated("pid")]
    assert len(later) > 0, "no Python worker was reused"
    # every task a worker runs after its first one follows a stage end
    assert (later["frozen"] > 0).all(), later
    checked = tasks[tasks["prev_dead"] >= 0]
    assert len(checked) > 0, "no task followed a task on a frozen heap"
    assert checked["prev_dead"].tolist() == [1] * len(checked)


def test_reused_worker_talks_to_its_executor_over_a_unix_socket(spark):
    """A reused worker's connection to its executor is a Unix domain
    socket bound under the session's socket dir, and the worker holds
    no TCP socket. Each descriptor is classified by its socket inode in
    procfs: dup'ing a live worker descriptor can break the daemon's
    pipe to that worker."""
    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")

    def probe(batches):
        import os

        inodes = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                target = os.readlink(f"/proc/self/fd/{fd}")
            except OSError:  # the listing's own descriptor, already closed
                continue
            if target.startswith("socket:["):
                inodes.add(target[len("socket:[") : -1])

        def held(table, inode_col):
            try:
                with open(f"/proc/self/net/{table}") as f:
                    return [row for row in map(str.split, list(f)[1:]) if row[inode_col] in inodes]
            except FileNotFoundError:  # no IPv6
                return []

        unix = [row[7] for row in held("unix", 6) if len(row) > 7]
        tcp = len(held("tcp", 9)) + len(held("tcp6", 9))
        docs = sum(len(out) for out in _run_batches(batches))
        yield pd.DataFrame({"pid": [os.getpid()], "unix": [" ".join(unix)], "tcp": [tcp], "docs": [docs]})

    n_tasks = 16
    pages = spark.range(0, n_tasks, 1, n_tasks).selectExpr(
        "concat('u', id) AS url", f"CAST('{_HTML.decode()}' AS BINARY) AS html"
    )
    tasks = pages.mapInPandas(probe, "pid long, unix string, tcp long, docs long").toPandas()
    assert tasks["docs"].sum() == n_tasks
    later = tasks[tasks.duplicated("pid")]
    assert len(later) > 0, "no Python worker was reused"
    for paths in later["unix"]:
        assert any(p.startswith(f"{sock_dir}/.") and p.endswith(".sock") for p in paths.split()), later
    assert (later["tcp"] == 0).all(), later


def test_stage_outside_spark_task_leaves_heap_unfrozen():
    before = gc.get_freeze_count()
    list(_run_batches(iter([pd.DataFrame({"url": ["u0"], "html": [_HTML]})])))
    rows = corpus.build_pages_rows(2, seed=3, html_fraction=1.0)
    archives = iter([pd.DataFrame({"content": [corpus.rows_to_warc(rows)]})])
    list(parse_content_batches(archives, max_rows=256, max_bytes=64 << 20))
    assert gc.get_freeze_count() == before


def test_stage_outside_spark_task_leaves_sockets_alone():
    with socket.create_server(("127.0.0.1", 0)) as server, socket.create_connection(server.getsockname()) as conn:
        list(_run_batches(iter([pd.DataFrame({"url": ["u0"], "html": [_HTML]})])))
        assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 0
