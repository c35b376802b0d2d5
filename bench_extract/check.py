"""Correctness check of a committed result table, run outside the
timed window after every timed job.

A document is in error when its committed row is missing, duplicated
or differs from its oracle row in any column. Rows of urls the oracle
does not know count as errors too. The lineage manifest must agree
with the table it describes.
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import functions as F

_COLUMNS = [
    "url",
    "title",
    "outline",
    "outline_json",
    "main_text",
    "parse_ok",
    "error",
    "payload_kind",
    "payload_bytes",
]


def _normalise(rec: dict) -> list:
    """A committed row in the oracle's shape (failure rows keep only
    their error class, the message prefix that lineage also uses)."""
    outline = rec["outline"]
    if outline is not None:
        outline = [[e["level"], e["text"], int(e["page"])] for e in outline]
    error = rec["error"]
    return [
        rec["title"],
        outline,
        rec["outline_json"],
        rec["main_text"],
        bool(rec["parse_ok"]),
        None if error is None else error.split(":", 1)[0],
        rec["payload_kind"],
        None if rec["payload_bytes"] is None else int(rec["payload_bytes"]),
    ]


def check_output(spark, out_dir: str, expected: list[list]) -> dict:
    """Compare the committed table under ``out_dir`` with ``expected``
    (oracle rows ``[url, *columns]``). Returns the error counts."""
    oracle = {r[0]: r[1:] for r in expected}
    table = spark.read.parquet(os.path.join(out_dir, "result")).select(
        *[F.col(c) for c in _COLUMNS]
    )
    records = table.toPandas().to_dict("records")
    seen = Counter(r["url"] for r in records)
    bad: set[str] = {u for u, n in seen.items() if n > 1 or u not in oracle}
    bad |= oracle.keys() - seen.keys()
    for rec in records:
        url = rec["url"]
        if url not in bad and _normalise(rec) != oracle[url]:
            bad.add(url)

    with open(os.path.join(out_dir, "_lineage", "manifest.json"), encoding="utf-8") as f:
        totals = json.load(f)["totals"]
    n_ok = sum(bool(r["parse_ok"]) for r in records)
    table_totals = {
        "rows_in": len(records),
        "rows_out": n_ok,
        "parse_failures": len(records) - n_ok,
        "payload_bytes": sum(int(r["payload_bytes"] or 0) for r in records),
    }
    return {
        "doc_errors": len(bad),
        "manifest_ok": all(totals[k] == v for k, v in table_totals.items()),
        "rows": len(records),
    }
