"""Adapters turning the shared testdata ``documents`` table into
``pages`` rows with deterministic payloads, so the full extraction
pipeline can run over driver-provided parquet (no external data).

Runs distributed (mapInPandas over the documents scan) — the payload
synthesis is itself the stand-in for reading WARC/PDF bytes at scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import corpus
from ..schemas import PAGES_SCHEMA

# every testdata page carries the same crawl time (session-local, which
# get_spark sets to UTC)
_WARC_TS = pd.Timestamp("2025-01-01 00:00:00")


def _spandoc_payload(doc_id: int, text: str) -> bytes:
    return corpus.spandoc_to_payload(corpus.spandoc_from_doc_row(doc_id, text))


def _pages_batches(kind: str):
    """mapInPandas closure: documents batches → pages rows whose payload
    is a spandoc (``kind="spandoc"``) or an HTML page (``"html"``)."""
    prefix, payload_of = (
        ("doc", _spandoc_payload) if kind == "spandoc" else ("page", html_from_doc_row)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "url": [f"https://testdata.local/{prefix}/{d:08d}" for d in ids],
                    "warc_ts": _WARC_TS,
                    "html": [payload_of(d, t or "") for d, t in zip(ids, pdf["text"])],
                    "text": pdf["text"],
                    "lang": pdf["lang"],
                }
            )

    return gen


def html_from_doc_row(doc_id: int, text: str) -> bytes:
    """Deterministic boilerplate-heavy HTML page from a documents row."""
    words = (text or "empty").split()
    title = " ".join(words[:4]).title()
    paras = []
    for k in range(0, len(words), 20):
        chunk = " ".join(words[k : k + 20])
        if k and (doc_id + k) % 60 == 0:
            lvl = 1 + (doc_id + k) % 3
            paras.append(f"<h{lvl}>Section {k // 20}</h{lvl}>")
        paras.append(f"<p>{chunk} and the rest of it is here.</p>")
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in words[:5])
    html = (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f"<script>track({doc_id});</script></head>"
        f"<body><header><nav><ul>{nav}</ul></nav></header>"
        f"<main><article>{''.join(paras)}</article></main>"
        f"<footer><p>© testdata.local <a href='/terms'>terms</a></p></footer>"
        f"</body></html>"
    )
    return html.encode("utf-8")


def pages_from_documents(docs: DataFrame, kind: str = "spandoc") -> DataFrame:
    """documents(doc_id, text, lang, ...) → pages rows with payloads.

    The scan is fanned out on doc_id-hash BEFORE the heavy payload +
    extraction stages: a small parquet file arrives as 1 split, which
    would serialize the whole compute pipeline.  At 100 TB the scan is
    naturally parallel and the repartition is skipped (partitions >=
    cluster parallelism), so this costs nothing at scale while making
    local scaling honest.  north_rule: explicit url-hash partitioning.
    """
    slim = docs.select("doc_id", "text", "lang")
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target, F.xxhash64("doc_id"))
    return slim.mapInPandas(_pages_batches(kind), schema=PAGES_SCHEMA)
