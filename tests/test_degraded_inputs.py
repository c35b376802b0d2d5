"""Inputs the pipeline must reject or report, not silently absorb.

 - sources/payload.py rejects the non-JSON ``NaN``/``Infinity``
   literals in a spandoc payload, so such a document becomes one S4
   failure row instead of reaching the analyzer (where a NaN size or
   coordinate silently changed the outline); corpus.payload_to_spandoc
   decodes through the same parser
 - a spandoc or %PDF payload whose decode raises keeps its payload
   kind, so lineage can tell it from an unrecognised payload
 - plans/queries.py's html_stats logs a warning when it runs without
   its golden fixtures
"""

from __future__ import annotations

import logging
import random

import pandas as pd
import pytest

from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators import extract
from pdf_extractor_spark.plans import queries
from pdf_extractor_spark.sources import payload


def _poisoned_payload(seed: int, field: str, value: float) -> bytes:
    pages = corpus.random_spandoc(random.Random(seed))
    span = pages[0]["blocks"][0][0][0]
    if field == "size":
        span["size"] = value
    else:
        span["bbox"] = [span["bbox"][0], value, *span["bbox"][2:]]
    return corpus.spandoc_to_payload(pages)


@pytest.mark.parametrize(
    "field, value, literal",
    [("size", float("nan"), "NaN"), ("bbox", float("inf"), "Infinity")],
    ids=["nan_size", "infinity_bbox"],
)
def test_non_finite_spandoc_is_a_failure_row(field, value, literal):
    bad = _poisoned_payload(707, field, value)
    with pytest.raises(ValueError, match=literal):
        payload.parse_spandoc(bad)
    with pytest.raises(ValueError, match=literal):
        corpus.payload_to_spandoc(bad)

    good = corpus.spandoc_to_payload(corpus.random_spandoc(random.Random(808)))
    out = extract._process_batch(pd.DataFrame({"url": ["bad", "good"], "html": [bad, good]}))
    assert out["parse_ok"].tolist() == [False, True]
    assert out["error"][0].startswith("ValueError") and literal in out["error"][0]
    assert out["payload_kind"].tolist() == ["spandoc", "spandoc"]


def test_truncated_pdf_keeps_its_payload_kind():
    whole = corpus.random_pdf(random.Random(5))
    out = extract._process_batch(pd.DataFrame({"url": ["cut"], "html": [whole[: len(whole) // 2]]}))
    assert not out["parse_ok"][0]
    assert out["error"][0].startswith("PdfError")
    assert out["payload_kind"][0] == "pdf"


def test_html_stats_warns_without_fixtures(spark, tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(queries, "_HTML_GOLDEN", tmp_path / "missing")
    with caplog.at_level(logging.WARNING, logger=queries.__name__):
        queries.html_stats(spark, None)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "html_stats" in warnings[0].getMessage()
    assert str(tmp_path / "missing") in warnings[0].getMessage()
