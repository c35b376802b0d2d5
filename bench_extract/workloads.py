"""The benchmark's workloads: their inputs, expected rows and jobs.

Inputs are built only from ``pdf_extractor_spark.corpus`` public
functions and cached per (workload, seed, size, source hash) under the
work directory, so generation never falls inside a metric. The source
hash covers the program, ``tests/refimpl.py`` and this file: the
committed prefix of ``resume_append`` is written by the program and
the expected rows use ``extract_html``, so a cache entry is only ever
reused by the code that made it.

The expected row of every document is computed once per input, from
the generated payload, by an oracle that does not run the engine:
``tests/refimpl.py`` on the document's spans for spandoc and %PDF rows,
single-process ``extract_html`` for HTML rows, and the planted corrupt
slice (``i % 41 == 7``) as an ``unsupported_payload`` failure row. The
spans of a %PDF document come from the generator's line plan
(``corpus.pdf_plan``), not from the program's PDF parser.

Every job drives the program through its public functions only:
``pages_from_warc`` / a parquet scan, ``io.filter_pending``,
``operators.extract.extract_pages`` and ``io.write_result``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from pdf_extractor_spark import corpus
from pdf_extractor_spark import io as pio
from pdf_extractor_spark.operators.extract import extract_pages
from pdf_extractor_spark.sources.warc import pages_from_warc

# Input bucketing of the parquet corpus and of every result table: one
# file per bucket, which run.py makes one scan task each, so every task
# holds one bucket and about 96 documents (one Arrow batch) as in the
# production shape; 16 tasks are four waves on four cores.
N_BUCKETS = 16
FILES_PER_BUCKET = 1
# WARC archives, likewise one scan task each.
N_ARCHIVES = 16
# Share of the corpus committed before a resume_append job runs: the
# job appends the other three quarters, so extraction still dominates it.
RESUME_PREFIX = 0.25
CORRUPT_EVERY, CORRUPT_AT = 41, 7  # corpus.build_pages_row's corrupt slice

# documents per workload input
WORKLOADS = {
    # HTML-only pages in gzip-member .warc.gz archives, written through
    # the bucket-repartition exchange; bypasses analyzer, pdfparse and
    # spandoc entirely
    "warc_html": 1536,
    # the default corpus mix as a url-hash-bucketed parquet table with a
    # quarter of it already committed: anti-join resume plus an append
    # through the observe-lineage and manifest-merge path
    "resume_append": 1536,
}

# Files whose code makes the cached inputs, expected rows included.
_SOURCES = ("pdf_extractor_spark", "tests/refimpl.py", "bench_extract/workloads.py")


# ------------------------------------------------------------ oracle
def _pdf_pages(i: int, seed: int, payload: bytes) -> list[dict]:
    """Spans of generated %PDF document ``i``, from its line plan.

    ``build_pages_row`` draws the host (two ``randint``) and the payload
    kind (one ``random``) before ``random_pdf`` draws its plan; the plan
    is checked to reproduce the payload byte for byte. ``random_pdf``
    shows every line at x = 72 in Helvetica on a 612 x 792 page, with no
    /Widths or /FontDescriptor, so a glyph advances 500/1000 em and a
    line spans 0.8 em above and 0.2 em below its baseline."""
    rng = random.Random(seed * 1_000_003 + i)
    rng.randint(0, 31)  # host
    rng.randint(0, 31)
    rng.random()  # payload kind
    state = rng.getstate()
    plan = corpus.pdf_plan(rng)
    rng.setstate(state)
    if corpus.random_pdf(rng) != payload:
        raise RuntimeError(f"document {i}: pdf_plan does not reproduce its %PDF payload")
    width, height = 612.0, 792.0
    return [
        {
            "width": width,
            "blocks": [
                [[{
                    "text": text,
                    "bbox": [72.0, height - y - 0.8 * size, 72.0 + 0.5 * size * len(text), height - y + 0.2 * size],
                    "font": "Helvetica",
                    "size": size,
                }]]
                for y, size, text in page
            ],
        }
        for page in plan
    ]


def _expected_row(url: str, payload: bytes, seed: int) -> list:
    """[url, title, outline, outline_json, main_text, parse_ok,
    error_class, payload_kind, payload_bytes] of one generated document."""
    import refimpl

    from pdf_extractor_spark.operators import html_extract

    i, nbytes = int(url[-6:]), len(payload)
    if i % CORRUPT_EVERY == CORRUPT_AT:
        return [url, None, None, None, None, False, "unsupported_payload", "unknown", nbytes]
    if payload.startswith(corpus.SPANDOC_MAGIC) or payload.startswith(b"%PDF"):
        if payload.startswith(b"%PDF"):
            kind, pages = "pdf", _pdf_pages(i, seed, payload)
        else:
            kind, pages = "spandoc", corpus.payload_to_spandoc(payload)
        res = refimpl.extract_document(pages)
        if res is None:
            return [url, None, None, None, None, False, "no_text_blocks", kind, nbytes]
        title, outline = res["title"], res["outline"]
        main_text = None
    else:
        kind = "html"
        res = html_extract.extract_html(payload)
        title, outline, main_text = res["title"], res["outline"], res["main_text"]
    rendered = refimpl.render_json({"title": title, "outline": outline})
    entries = [[e["level"], e["text"], e["page"]] for e in outline]
    return [url, title, entries, rendered, main_text, True, None, kind, nbytes]


def expected_rows(pages_df, seed: int) -> list[list]:
    """Oracle rows of every (url, html) document in ``pages_df``, in
    document order. Spark only spreads the oracle over the cores."""
    import pandas as pd

    def oracle(batches):
        for pdf in batches:
            rows = [_expected_row(u, bytes(p), seed) for u, p in zip(pdf["url"], pdf["html"])]
            yield pd.DataFrame({"row": [json.dumps(r, ensure_ascii=False) for r in rows]})

    out = pages_df.select("url", "html").mapInPandas(oracle, schema="row string")
    rows = [json.loads(r) for r in out.toPandas()["row"]]
    rows.sort(key=lambda r: int(r[0][-6:]))
    return rows


# ------------------------------------------------------------ inputs
def _source_hash(root: Path) -> str:
    h = hashlib.sha256()
    for src in _SOURCES:
        path = root / src
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        for f in files:
            h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


@dataclass
class Inputs:
    """Paths of one workload's cached inputs."""

    name: str
    seed: int
    docs: int
    root: Path

    @property
    def pages_dir(self) -> str:
        return str(self.root / ("warc" if self.name == "warc_html" else "pages"))

    @property
    def committed_dir(self) -> str:
        return str(self.root / "committed")

    @property
    def expected_path(self) -> Path:
        return self.root / "expected.json"

    def ready(self) -> bool:
        return (self.root / "_done").exists()

    def load_expected(self) -> list[list]:
        """Oracle rows in document order (row ``i`` is document ``i``)."""
        with open(self.expected_path, encoding="utf-8") as f:
            return json.load(f)

    def job_rows(self, expected: list[list]) -> list[list]:
        """Oracle rows of the documents one timed job commits."""
        if self.name == "resume_append":
            return expected[int(self.docs * RESUME_PREFIX):]
        return expected


def inputs_for(work: Path, name: str, seed: int, docs: int | None = None) -> Inputs:
    docs = docs or WORKLOADS[name]
    key = f"{name}-s{seed}-n{docs}-{_source_hash(work.parent)}"
    return Inputs(name, seed, docs, work / "inputs" / key)


def prepare(spark, inp: Inputs) -> None:
    """Build the inputs and oracle rows of ``inp`` unless cached."""
    if inp.ready():
        return
    shutil.rmtree(inp.root, ignore_errors=True)
    inp.root.mkdir(parents=True)
    if inp.name == "warc_html":
        pages = spark.createDataFrame(_write_archives(inp))
    else:
        corpus.materialize_bucketed_corpus(
            spark, inp.docs, inp.pages_dir, seed=inp.seed,
            n_buckets=N_BUCKETS, files_per_bucket=FILES_PER_BUCKET,
        )
        pages = spark.read.parquet(inp.pages_dir)
        # the committed prefix is written by the program itself
        head = pages.filter(F.substring("url", -6, 6).cast("int") < int(inp.docs * RESUME_PREFIX))
        pio.write_result(extract_pages(head), inp.committed_dir, n_buckets=N_BUCKETS, input_bucketed=True)
    with open(inp.expected_path, "w", encoding="utf-8") as f:
        json.dump(expected_rows(pages, inp.seed), f, ensure_ascii=False)
    (inp.root / "_done").touch()


def _write_archives(inp: Inputs):
    """Generate HTML-only pages (plus the corrupt slice), pack them into
    archives and return them as (url, html)."""
    import pandas as pd

    os.makedirs(inp.pages_dir)
    rows = [corpus.build_pages_row(i, inp.seed, html_fraction=1.0) for i in range(inp.docs)]
    per = -(-inp.docs // N_ARCHIVES)
    for a in range(N_ARCHIVES):
        with open(os.path.join(inp.pages_dir, f"archive-{a:03d}.warc.gz"), "wb") as f:
            f.write(corpus.rows_to_warc(rows[a * per : (a + 1) * per]))
    return pd.DataFrame({"url": [r["url"] for r in rows], "html": [r["html"] for r in rows]})


# -------------------------------------------------------------- jobs
def pages(spark, inp: Inputs, share: float = 1.0):
    """The workload's pages table, or its first ``share`` of buckets or
    archives (a subset with the same per-task shape)."""
    if inp.name == "warc_html":
        if share >= 1.0:
            return pages_from_warc(spark, inp.pages_dir)
        n = max(1, round(N_ARCHIVES * share))
        names = ",".join(f"archive-{a:03d}.warc.gz" for a in range(n))
        return pages_from_warc(spark, inp.pages_dir, glob="{%s}" % names)
    df = spark.read.parquet(inp.pages_dir)
    if share < 1.0:
        df = df.filter(F.col("bucket") < max(1, round(N_BUCKETS * share)))
    return df


def reset_output(inp: Inputs, out_dir: str) -> None:
    """Untimed: empty the output, or restore the committed prefix."""
    shutil.rmtree(out_dir, ignore_errors=True)
    if inp.name == "resume_append":
        shutil.copytree(inp.committed_dir, out_dir)


def pending_pages(spark, inp: Inputs, out_dir: str, tracer, share: float = 1.0):
    with tracer.span("scan"):
        df = pages(spark, inp, share)
    if inp.name == "resume_append":
        with tracer.span("io.filter_pending"):
            df = pio.filter_pending(df, out_dir)
    return df


def run_job(spark, inp: Inputs, out_dir: str, tracer) -> dict:
    """One extraction job: scan -> extract -> write -> lineage manifest.
    Returns write_result's stats."""
    with tracer.span("job"):
        df = pending_pages(spark, inp, out_dir, tracer)
        with tracer.span("extract.extract_pages"):
            result = extract_pages(df, keep_failed=True)
        with tracer.span("io.write_result"):
            return pio.write_result(
                result,
                out_dir,
                n_buckets=N_BUCKETS,
                mode="append" if inp.name == "resume_append" else "overwrite",
                input_bucketed=inp.name != "warc_html",
            )
