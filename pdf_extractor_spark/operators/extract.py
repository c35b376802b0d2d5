"""The flagship pipeline: pages table → per-url (title, outline, JSON).

Spark-first shape: ONE shuffle-free ``mapInPandas`` stage. The unit of
parallelism is the document row; every stage of the reference's
per-document pipeline (payload parse → span-merge fold → 3-pass
analysis → JSON render) happens inside the same Arrow batch, so at
cluster scale this is embarrassingly parallel — zero shuffle, zero
driver involvement, linear scaling with executors (the property the
north rule's ≥0.8 scaling-efficiency gate measures).

Failed documents follow S4 semantics (extract_outline.py:116-124,
145-147): the reference writes NO output for them; here they become
``parse_ok=false`` rows that sinks filter out but lineage manifests
count (io.py).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import RESULT_SCHEMA
from ..session import release_zip_importers
from ..sources import payload as payload_codec
from . import analyzer, html_extract, span_merge

# NOTE the first column is the batch ROW ORDINAL (as a string), not the
# url: a crawler can re-ship the same url twice in one Arrow batch (the
# streaming path dedups against the committed table, not within-batch),
# and keying the analyzer by url would merge the two documents' blocks
# into one group and emit a phantom failure row for the first copy.
_BLOCK_COLUMNS = [
    "url",
    "block_idx",
    "page_num",
    "text",
    "font_size",
    "font_name",
    "x0",
    "y0",
    "x1",
    "y1",
    "page_width",
]


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
    block_rows: list[tuple] = []
    span_doc_rows: list[int] = []
    for i in range(n):
        raw = payloads[i]
        sizes[i] = len(raw) if raw is not None else 0
        try:
            kind, pages = payload_codec.parse_payload(bytes(raw) if raw is not None else None)
            kinds[i] = kind
            if kind in ("spandoc", "pdf"):
                merged, width = span_merge.merge_doc_spans(pages)
                if not merged:
                    errors[i] = "no_text_blocks"  # reference emits nothing (S4)
                    continue
                for bidx, (pno, text, size, font, x0, y0, x1, y1, _italic) in enumerate(merged):
                    block_rows.append((str(i), bidx, pno, text, size, font, x0, y0, x1, y1, width))
                span_doc_rows.append(i)
            elif kind == "html":
                res = html_extract.extract_html(bytes(raw))
                titles[i] = res["title"]
                outlines[i] = res["outline"]
                main_texts[i] = res["main_text"]
                jsons[i] = json.dumps(
                    {"title": res["title"], "outline": res["outline"]},
                    indent=2,
                    ensure_ascii=False,
                )
                oks[i] = True
            else:
                errors[i] = f"unsupported_payload:{kind}"
        except Exception as exc:  # S4: swallow, record, continue
            kinds[i] = kinds[i] or "unknown"
            errors[i] = f"{type(exc).__name__}: {exc}"[:500]

    # -- analysis stage: vectorized across every spandoc in the batch --
    if block_rows:
        blocks = pd.DataFrame(block_rows, columns=_BLOCK_COLUMNS)

        def _emit(key: str, title, outline) -> None:
            i = int(key)
            titles[i] = title
            outlines[i] = outline
            jsons[i] = json.dumps(
                {"title": title, "outline": outline}, indent=2, ensure_ascii=False
            )
            oks[i] = True

        try:
            for key, title, outline in analyzer.analyze_batch(blocks):
                _emit(key, title, outline)
        except Exception:
            # S4 isolation: one pathological document must not fail the
            # whole Arrow batch — rerun per document so only the raising
            # doc(s) become failure rows (rare path; the vectorized call
            # above stays the hot path)
            for key, sub in blocks.groupby("url", sort=False):
                i = int(key)
                if oks[i]:
                    continue  # already emitted before the raise
                try:
                    for k2, title, outline in analyzer.analyze_batch(
                        sub.reset_index(drop=True)
                    ):
                        _emit(k2, title, outline)
                except Exception as exc:
                    errors[i] = f"{type(exc).__name__}: {exc}"[:500]

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
        release_zip_importers()


def extract_pages(pages_df: DataFrame, keep_failed: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → RESULT_SCHEMA rows.

    ``keep_failed=False`` reproduces the reference's sink behavior
    (failed docs produce no output row); keep them when writing with
    io.write_result so lineage can count failures.
    """
    out = pages_df.select("url", "html").mapInPandas(_run_batches, schema=RESULT_SCHEMA)
    if not keep_failed:
        out = out.filter(out.parse_ok)
    return out
