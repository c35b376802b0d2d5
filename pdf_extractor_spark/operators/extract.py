"""The flagship pipeline: pages table → per-url (title, outline, JSON).

Spark-first shape: ONE shuffle-free ``mapInPandas`` stage. The unit of
parallelism is the document row; every stage of the reference's
per-document pipeline (payload parse → span-merge fold → 3-pass
analysis → JSON render) runs document by document inside the same
Arrow batch, so at cluster scale this is embarrassingly parallel —
zero shuffle, zero driver involvement, linear scaling with executors
(the property the north rule's ≥0.8 scaling-efficiency gate measures).
The batch's merged blocks go to the analyzer in one call, which
analyzes each document on its own. WARC input keeps the one stage: the
frame ``sources.warc.pages_from_warc`` returns is extracted from its
archive scan, with the record loop in front of the same per-batch code
(``_run_warc_batches``).

Failed documents follow S4 semantics (extract_outline.py:116-124,
145-147): the reference writes NO output for them; here they become
``parse_ok=false`` rows that sinks filter out but lineage manifests
count (io.py). A document the analyzer raises on is such a row too,
with the exception in ``error``; its neighbours are unaffected.
"""

from __future__ import annotations

import json
from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import RESULT_SCHEMA
from ..session import arrow_batch_limits, trim_per_task_costs
from ..sources import payload as payload_codec, warc
from . import analyzer, html_extract, span_merge


def _outline_json(title, outline) -> str:
    return json.dumps({"title": title, "outline": outline}, indent=2, ensure_ascii=False)


def _process_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    urls = pdf["url"].tolist()
    payloads = pdf["html"].tolist()

    titles = [None] * n
    outlines = [None] * n
    jsons = [None] * n
    main_texts = [None] * n
    oks = [False] * n
    errors = [None] * n
    kinds = [None] * n
    sizes = [0] * n

    # -- parse stage: payload → spandoc blocks or HTML result ----------
    # Blocks are keyed by the batch ROW ORDINAL, not the url: a crawler
    # can re-ship the same url twice in one Arrow batch, and each copy
    # is its own document.
    block_rows: list[tuple] = []
    for i in range(n):
        raw = payloads[i]
        sizes[i] = len(raw) if raw is not None else 0
        data = bytes(raw) if raw is not None else None
        try:
            kind, pages = payload_codec.parse_payload(data)
            kinds[i] = kind
            if kind in ("spandoc", "pdf"):
                merged, width = span_merge.merge_doc_spans(pages)
                if not merged:
                    errors[i] = "no_text_blocks"  # reference emits nothing (S4)
                    continue
                for pno, text, size, font, x0, y0, x1, y1, _italic in merged:
                    block_rows.append((i, pno, text, size, font, x0, y0, x1, y1, width))
            elif kind == "html":
                res = html_extract.extract_html(data)
                titles[i] = res["title"]
                outlines[i] = res["outline"]
                main_texts[i] = res["main_text"]
                jsons[i] = _outline_json(res["title"], res["outline"])
                oks[i] = True
            else:
                errors[i] = f"unsupported_payload:{kind}"
        except Exception as exc:  # S4: swallow, record, continue
            # a corrupt spandoc or %PDF raises inside parse_payload,
            # before it returns the kind
            kinds[i] = kinds[i] or payload_codec.detect_kind(data)
            errors[i] = f"{type(exc).__name__}: {exc}"[:500]

    # -- analysis stage: one call per batch, each document isolated -----
    if block_rows:
        for i, title, outline, error in analyzer.analyze_batch(block_rows):
            if error is not None:
                errors[i] = error
                continue
            titles[i] = title
            outlines[i] = outline
            jsons[i] = _outline_json(title, outline)
            oks[i] = True

    return pd.DataFrame(
        {
            "url": urls,
            "title": titles,
            "outline": outlines,
            "outline_json": jsons,
            "main_text": main_texts,
            "parse_ok": oks,
            "error": errors,
            "payload_kind": kinds,
            "payload_bytes": sizes,
        }
    )


def _run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    try:
        for pdf in batches:
            if len(pdf):
                yield _process_batch(pdf)
    finally:
        trim_per_task_costs()


def _run_warc_batches(
    batches: Iterator[pd.DataFrame], max_rows: int, max_bytes: int
) -> Iterator[pd.DataFrame]:
    """binaryFile ``content`` batches → RESULT_SCHEMA batches: the WARC
    record loop and ``_process_batch`` in one Python stage, over the
    record lists of ``warc.iter_page_records``."""
    return _run_batches(
        pd.DataFrame({"url": [r[0] for r in records], "html": [r[2] for r in records]})
        for records in warc.iter_page_records(batches, max_rows, max_bytes)
    )


def extract_pages(pages_df: DataFrame, keep_failed: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → RESULT_SCHEMA rows.

    The frame ``sources.warc.pages_from_warc`` returns, as it is and not
    cached, is extracted straight from its archive scan: one Python
    stage parses the records and extracts them. Any other frame is
    extracted from its ``url`` and ``html`` columns. WARC records are
    batched by ``warc.iter_page_records`` on either path, at the
    session's Arrow limits.

    ``keep_failed=False`` reproduces the reference's sink behavior
    (failed docs produce no output row); keep them when writing with
    io.write_result so lineage can count failures.
    """
    # vars(), not getattr: DataFrame.__getattr__ resolves column names
    content = vars(pages_df).get("_warc_content")
    if content is not None and not pages_df.is_cached:
        max_rows, max_bytes = arrow_batch_limits(content.sparkSession)
        run = partial(_run_warc_batches, max_rows=max_rows, max_bytes=max_bytes)
        out = content.mapInPandas(run, schema=RESULT_SCHEMA)
    else:
        out = pages_df.select("url", "html").mapInPandas(_run_batches, schema=RESULT_SCHEMA)
    if not keep_failed:
        out = out.filter(out.parse_ok)
    return out
