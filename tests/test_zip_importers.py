"""Stage generators release zip importers when they end.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task; on CPython 3.11 each ``zipimporter`` cached in
``sys.path_importer_cache`` then re-reads its whole archive directory
(pyspark.zip, the spark-core jar). ``session.release_zip_importers``
runs at the end of the job path's stage generators so a reused worker
starts its next task with nothing to re-read. These tests pin that the
cache is empty after a stage ends or raises, that a rewritten archive
is still seen afterwards, and that a reused Spark worker starts its
later tasks with zero zip importers.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators.extract import _run_batches
from pdf_extractor_spark.session import release_zip_importers
from pdf_extractor_spark.sources.warc import parse_content_batches

_HTML = b"<html><head><title>t</title></head><body><p>hello zip world</p></body></html>"


def _zip_importers() -> list[str]:
    return [k for k, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path with one module already imported from
    it, so sys.path_importer_cache holds a zipimporter for it."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"graft_zip_a": "VALUE = 1\n"})
    sys.path.insert(0, str(archive))
    try:
        assert importlib.import_module("graft_zip_a").VALUE == 1
        assert str(archive) in _zip_importers()
        yield archive
    finally:
        sys.path.remove(str(archive))
        for name in ("graft_zip_a", "graft_zip_b"):
            sys.modules.pop(name, None)
        release_zip_importers()


def _extract_input():
    return pd.DataFrame({"url": ["u0", "u1"], "html": [_HTML, _HTML]})


def _warc_input():
    rows = corpus.build_pages_rows(4, seed=3, html_fraction=1.0)
    return pd.DataFrame({"content": [corpus.rows_to_warc(rows)]})


STAGES = [
    pytest.param(_run_batches, _extract_input, id="extract._run_batches"),
    pytest.param(parse_content_batches, _warc_input, id="warc.parse_content_batches"),
]


@pytest.mark.parametrize("stage,make_input", STAGES)
def test_exhausted_stage_leaves_no_zip_importer(zip_on_path, stage, make_input):
    out = list(stage(iter([make_input()])))
    assert len(out) == 1 and len(out[0]) > 0
    assert _zip_importers() == []


@pytest.mark.parametrize("stage,make_input", STAGES)
def test_raising_stage_leaves_no_zip_importer(zip_on_path, stage, make_input):
    def batches():
        yield make_input()
        raise RuntimeError("upstream batch failed")

    with pytest.raises(RuntimeError, match="upstream batch failed"):
        list(stage(batches()))
    assert _zip_importers() == []


def test_rewritten_archive_serves_new_module(zip_on_path):
    list(_run_batches(iter([_extract_input()])))
    _write_zip(zip_on_path, {"graft_zip_a": "VALUE = 1\n", "graft_zip_b": "VALUE = 2\n"})
    # no invalidate_caches() here: the released importer must not have
    # left the archive's old directory behind for a new one to reuse
    assert importlib.import_module("graft_zip_b").VALUE == 2


def test_reused_worker_starts_later_tasks_without_zip_importers(spark):
    def probe(batches):
        import os
        import sys
        import time
        import zipimport

        t0 = time.monotonic_ns()
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        docs = sum(len(out) for out in _run_batches(batches))
        yield pd.DataFrame({"pid": [os.getpid()], "t": [t0], "zips": [zips], "docs": [docs]})

    n_tasks = 32
    pages = spark.range(0, 2 * n_tasks, 1, n_tasks).selectExpr(
        "concat('u', id) AS url", f"CAST('{_HTML.decode()}' AS BINARY) AS html"
    )
    tasks = (
        pages.mapInPandas(probe, "pid long, t long, zips long, docs long")
        .toPandas()
        .sort_values(["pid", "t"])
    )
    assert tasks["docs"].sum() == 2 * n_tasks
    # every task a worker runs after its first one in this job follows
    # one of these stages, so it must start with nothing to re-read
    later = tasks[tasks.duplicated("pid")]
    assert len(later) > 0, "no Python worker was reused"
    assert later["zips"].tolist() == [0] * len(later)
