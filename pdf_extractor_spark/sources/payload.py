"""Payload detection and parsing for the binary ``html`` column.

Three payload kinds reach the pipeline (BASELINE.json input_hint says
the binary column carries the document bytes):
  - ``spandoc``  — the span-table serialization produced by a PDF
    parser (the engine's contract boundary, SURVEY.md §5.2; no PDF
    library ships in this environment, so this IS the PDF path).
  - ``pdf``      — raw %PDF bytes; parsed by the pure-Python parser in
    pdfparse.py. Malformed PDFs raise → S4 failure rows.
  - ``html``     — raw HTML bytes → DOM boilerplate-stripping path.
Anything else is ``unknown`` → parse failure, counted in lineage.
"""

from __future__ import annotations

import json
import zlib
from typing import Optional

SPANDOC_MAGIC = b"SPANDOC1"


def detect_kind(payload: Optional[bytes]) -> str:
    if not payload:
        return "empty"
    if payload.startswith(SPANDOC_MAGIC):
        return "spandoc"
    if payload.startswith(b"%PDF"):
        return "pdf"
    head = payload[:512].lstrip().lower()
    if head.startswith((b"<!doctype", b"<html", b"<head", b"<body")) or b"<html" in head:
        return "html"
    return "unknown"


def parse_spandoc(payload: bytes) -> list[dict]:
    return json.loads(zlib.decompress(payload[len(SPANDOC_MAGIC):]).decode("utf-8"))


def parse_pdf(payload: bytes) -> list[dict]:
    """Real-PDF branch: the pure-Python parser (pdfparse.py) emits the
    same span-table shape as parse_spandoc, so everything downstream
    is identical."""
    from . import pdfparse

    return pdfparse.extract_spans(payload)


def parse_payload(payload: Optional[bytes]) -> tuple[str, Optional[list[dict]]]:
    """Returns (kind, pages-or-None). Raises on malformed payloads of a
    known kind — the caller converts exceptions to S4 failure rows."""
    kind = detect_kind(payload)
    if kind == "spandoc":
        return kind, parse_spandoc(payload)
    if kind == "pdf":
        return kind, parse_pdf(payload)
    return kind, None


def pages_from_binary_files(spark, input_dir: str, glob: str = "*.[pP][dD][fF]"):
    """S1 parity (extract_outline.py:149-155): directory scan of raw
    payload files via Spark's binaryFile source — the local-files twin
    of the Iceberg pages scan. Case-insensitive ``*.pdf`` matching
    mirrors the reference's suffix filter; file path becomes the url,
    mtime the warc_ts. The source splits by file, so parallelism =
    file count (fine: one doc = one unit of work, same as mp.Pool in
    the reference)."""
    from pyspark.sql import functions as F

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(input_dir)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
