"""Round-3 self-review fixes, second pass.

Each test pins one fix from the review of the round-3 diff:
 - operators/extract.py keys the batch analyzer by ROW ORDINAL, so a
   url re-shipped twice in one Arrow batch yields two independent
   result rows (url-keying merged their blocks into one document)
 - operators/extract.py isolates analyzer failures per document: one
   pathological doc becomes one S4 failure row, not a whole-batch loss
 - operators/html_extract.py tracks an open-element stack, so dirty
   crawled HTML (unclosed <a>/<option>/<aside>, stray end tags, void
   tags) can no longer leak link/drop depth and silently discard the
   rest of the document
 - streaming/pipeline.py stateful ops fall back to equivalent batch
   aggregates on non-streaming frames
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators import analyzer, extract
from pdf_extractor_spark.operators.html_extract import extract_html


def _spandoc_payload(seed: int) -> bytes:
    return corpus.spandoc_to_payload(corpus.random_spandoc(random.Random(seed)))


# -- extract.py: ordinal keying + per-doc S4 isolation -------------------


def test_duplicate_url_rows_stay_independent():
    p1, p2 = _spandoc_payload(101), _spandoc_payload(202)
    solo1 = extract._process_batch(pd.DataFrame({"url": ["u"], "html": [p1]}))
    solo2 = extract._process_batch(pd.DataFrame({"url": ["u"], "html": [p2]}))
    both = extract._process_batch(
        pd.DataFrame({"url": ["dup", "dup"], "html": [p1, p2]})
    )
    assert both["parse_ok"].tolist() == [True, True]
    # each copy got ITS OWN document's analysis, not a merged group
    assert both["outline_json"][0] == solo1["outline_json"][0]
    assert both["outline_json"][1] == solo2["outline_json"][0]


def test_one_poisoned_doc_fails_alone(monkeypatch):
    real = analyzer.analyze_batch

    def poisoned(blocks):
        if blocks["text"].str.contains("POISON_MARKER").any():
            raise ValueError("poisoned document")
        return real(blocks)

    monkeypatch.setattr(analyzer, "analyze_batch", poisoned)

    good1, good2 = _spandoc_payload(303), _spandoc_payload(404)
    bad_pages = corpus.random_spandoc(random.Random(505))
    bad_pages[0]["blocks"][0][0][0]["text"] = "POISON_MARKER"
    bad = corpus.spandoc_to_payload(bad_pages)

    out = extract._process_batch(
        pd.DataFrame(
            {"url": ["g1", "bad", "g2"], "html": [good1, bad, good2]}
        )
    )
    assert out["parse_ok"].tolist() == [True, False, True]
    assert "ValueError" in out["error"][1]
    # the survivors' results equal their solo (unpoisoned-batch) runs
    monkeypatch.setattr(analyzer, "analyze_batch", real)
    solo1 = extract._process_batch(pd.DataFrame({"url": ["g1"], "html": [good1]}))
    assert out["outline_json"][0] == solo1["outline_json"][0]


# -- html_extract.py: open-element stack ---------------------------------

PROSE = (
    "<p>It is a truth universally acknowledged that a paragraph in "
    "possession of stopwords must be in want of extraction by the "
    "pipeline and all of its heuristics.</p>"
)


def test_unclosed_nested_anchor_does_not_leak_link_density():
    page = (
        "<html><body>"
        '<p><a href="/1">one <a href="/2">two</a></p>'  # nested unclosed <a>
        + PROSE
        + "</body></html>"
    )
    res = extract_html(page.encode())
    assert "universally acknowledged" in res["main_text"]


def test_unclosed_option_siblings_do_not_leak_drop_depth():
    page = (
        "<html><body>"
        "<select><option>USA<option>Canada<option>Mexico</select>"
        + PROSE
        + "</body></html>"
    )
    res = extract_html(page.encode())
    assert "universally acknowledged" in res["main_text"]
    assert "USA" not in res["main_text"]


def test_unclosed_drop_subtree_closed_by_parent():
    page = (
        "<html><body>"
        "<div><aside><p>sidebar junk of the best related links</div>"
        + PROSE
        + "</body></html>"
    )
    res = extract_html(page.encode())
    assert "universally acknowledged" in res["main_text"]
    assert "sidebar junk" not in res["main_text"]


def test_stray_end_tags_and_void_tags_are_harmless():
    page = (
        "</div></p><html><body>"
        '<img src="x"><input type="text"><meta charset="utf-8">'
        + PROSE
        + "<br><hr></body></html>"
    )
    res = extract_html(page.encode())
    assert "universally acknowledged" in res["main_text"]


# -- streaming/pipeline.py batch fallbacks -------------------------------


def test_stateful_user_totals_batch_fallback(spark):
    from pdf_extractor_spark.streaming import pipeline

    events = spark.createDataFrame(
        [(f"u{i % 3}", float(i)) for i in range(30)], "user_id string, value double"
    )
    rows = {
        r["user_id"]: r
        for r in pipeline.stateful_user_totals(events).collect()
    }
    assert rows["u0"]["n_events"] == 10
    assert rows["u1"]["total_value"] == pytest.approx(sum(range(1, 30, 3)))


def test_streaming_dedup_batch_fallback(spark):
    from pdf_extractor_spark.streaming import pipeline

    pages = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "url string"
    ).selectExpr("url", "timestamp('2024-01-01 00:00:00') as warc_ts")
    out = pipeline.streaming_dedup(pages, key="url")
    assert sorted(r["url"] for r in out.collect()) == ["a", "b"]
