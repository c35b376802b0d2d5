"""Reused Python workers freeze their import heap once.

After each task of a reused worker, PySpark's daemon runs a full
``gc.collect()`` (``pyspark/daemon.py``), which scans every tracked
object the worker holds: the pipeline's imports are ~73.5k of them.
``session.trim_per_task_costs`` runs at the end of the job path's stage
generators; its first call inside a Spark worker collects once and
freezes what survives, so later collections scan only what tasks
allocate. These tests pin that later tasks run on a frozen heap, that
garbage a task leaves is still collected before the worker's next
task (nothing is frozen per task), that a reused worker's socket to
its executor has Nagle's algorithm off, and that a call outside a
Spark task leaves the calling process's heap and sockets alone.
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


def test_reused_worker_socket_has_nagle_off(spark):
    """After its first task a worker's TCP connection to the executor
    has TCP_NODELAY set, so a task's last small writes are not held
    for the executor's delayed ACK."""

    def probe(batches):
        import os
        import socket

        flags = []
        for fd in map(int, os.listdir("/proc/self/fd")):
            try:
                dup = os.dup(fd)
            except OSError:
                continue
            try:
                sock = socket.socket(fileno=dup)
            except OSError:
                os.close(dup)
                continue
            with sock:
                if sock.family in (socket.AF_INET, socket.AF_INET6) and sock.type == socket.SOCK_STREAM:
                    flags.append(sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        docs = sum(len(out) for out in _run_batches(batches))
        yield pd.DataFrame({"pid": [os.getpid()], "tcp": [len(flags)], "nodelay": [int(all(flags))], "docs": [docs]})

    n_tasks = 16
    pages = spark.range(0, n_tasks, 1, n_tasks).selectExpr(
        "concat('u', id) AS url", f"CAST('{_HTML.decode()}' AS BINARY) AS html"
    )
    tasks = pages.mapInPandas(probe, "pid long, tcp long, nodelay long, docs long").toPandas()
    assert tasks["docs"].sum() == n_tasks
    later = tasks[tasks.duplicated("pid")]
    assert len(later) > 0, "no Python worker was reused"
    assert (later["tcp"] > 0).all() and (later["nodelay"] == 1).all(), later


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
