"""Round-3 self-review fixes, second pass.

Each test pins one fix from the review of the round-3 diff:
 - operators/extract.py keys the analyzer's blocks by ROW ORDINAL, so a
   url re-shipped twice in one Arrow batch yields two independent
   result rows (url-keying merged their blocks into one document)
 - operators/analyzer.py isolates failures per document: one
   pathological doc becomes one S4 failure row, not a whole-batch
   loss, wherever it sits in the batch
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


@pytest.mark.parametrize(
    "poisoned", [(0,), (1,), (2,), (0, 2)], ids=["first", "middle", "last", "two"]
)
def test_one_poisoned_doc_fails_alone(monkeypatch, poisoned):
    real = analyzer.analyze_doc

    def analyze_doc(rows):
        if any("POISON_MARKER" in row[2] for row in rows):
            raise ValueError("poisoned document")
        return real(rows)

    urls = ["d0", "d1", "d2"]
    payloads = [_spandoc_payload(303), _spandoc_payload(404), _spandoc_payload(606)]
    for k in poisoned:
        bad_pages = corpus.random_spandoc(random.Random(505 + k))
        bad_pages[0]["blocks"][0][0][0]["text"] = "POISON_MARKER"
        payloads[k] = corpus.spandoc_to_payload(bad_pages)

    monkeypatch.setattr(analyzer, "analyze_doc", analyze_doc)
    out = extract._process_batch(pd.DataFrame({"url": urls, "html": payloads}))
    assert out["parse_ok"].tolist() == [k not in poisoned for k in range(3)]
    # the survivors' results equal their solo (unpoisoned-batch) runs
    monkeypatch.setattr(analyzer, "analyze_doc", real)
    for k in range(3):
        if k in poisoned:
            assert "ValueError" in out["error"][k]
            continue
        solo = extract._process_batch(pd.DataFrame({"url": [urls[k]], "html": [payloads[k]]}))
        assert out["outline_json"][k] == solo["outline_json"][0]


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
