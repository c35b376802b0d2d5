"""Driver contract for the spark-graft builder (PySpark target).

entry()      : flagship outline-extraction pipeline over sf0.001.
queries()    : every implemented operator from SURVEY.md §2 + the
               training-data ops (dedup / similarity / text analysis).
oracle_sql() : DuckDB twins for all SQL-expressible queries. The
               order-dependent Arrow-stage queries (outline_extract,
               html_extract, pdf_payload_extract) have no SQL
               oracle — they are covered by the byte-identity pytest
               suite against the vendor-free clean-room oracle
               (tests/refimpl.py, itself diffed against the actual
               reference code) and, for the real-%PDF path, by the
               generated-PDF differential in tests/test_pdfparse.py.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _testdata_extract(kind: str, *columns: str) -> Callable[[SparkSession, str], DataFrame]:
    """Query of documents → deterministic ``kind`` payloads → full
    extraction pipeline (parse → merge fold → 3-pass analyzer → JSON
    render). Driver-facing shape: scalar ``columns`` only. The
    hierarchical outline rides as its byte-exact JSON string
    (outline_json) — the driver's canonicalizer sorts values per column
    and cannot hash array<struct>."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pdf_extractor_spark.operators.extract import extract_pages
        from pdf_extractor_spark.sources.testdata import pages_from_documents

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return extract_pages(pages_from_documents(docs, kind=kind)).select(*columns)

    return query


_flagship = _testdata_extract("spandoc", "url", "title", "outline_json", "parse_ok", "payload_kind")
_html_query = _testdata_extract("html", "url", "title", "main_text", "outline_json", "parse_ok")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_extractor_spark.plans.queries import QUERIES

    # Flagship pipelines FIRST: the round driver certifies the first 50
    # entries in insertion order, so the two rows-only Arrow-stage
    # pipelines (byte-identity is gated by pytest against the reference
    # semantics) must never fall off the artifact again (VERDICT r2 #1).
    # Related same-grain ops are merged in plans/queries.py so the
    # TOTAL registry is <= 50 and every §2 op keeps an official row.
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "outline_extract": _flagship,
        "html_extract": _html_query,
    }
    q.update(QUERIES)
    if len(q) > 50:  # not an assert: -O must never strip this gate
        raise RuntimeError(f"{len(q)} queries exceed the 50-row driver artifact cap")
    return q


def oracle_sql() -> dict[str, str]:
    from pdf_extractor_spark.plans.queries import resolve_oracles

    return resolve_oracles()
