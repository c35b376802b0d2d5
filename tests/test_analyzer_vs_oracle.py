"""Differential test (no Spark): the engine's span-merge + analyzer
(pdf_extractor_spark.operators) vs the clean-room oracle
(tests/refimpl.py, itself proven byte-identical to the reference).

Runs the whole Arrow-batch path — many documents' merged-block rows in
one ``analyze_batch`` call — exactly as the mapInPandas stage does, so
batching bugs (documents bleeding into each other, dtype coercions,
NaN propagation) surface here without paying Spark startup per
iteration.
"""

from __future__ import annotations

import json
import random

import pytest

import refimpl
from pdf_extractor_spark import corpus
from pdf_extractor_spark.operators import analyzer, span_merge

def _block_rows(docs: dict[str, list[dict]]) -> list[tuple]:
    rows = []
    for url, pages in docs.items():
        merged, width = span_merge.merge_doc_spans(pages)
        for pno, text, size, font, x0, y0, x1, y1, _it in merged:
            rows.append((url, pno, text, size, font, x0, y0, x1, y1, width))
    return rows


def test_span_merge_matches_oracle():
    for seed in range(300):
        rng = random.Random(40_000 + seed)
        pages = corpus.random_spandoc(rng)
        engine_blocks, engine_width = span_merge.merge_doc_spans(pages)
        oracle_blocks, oracle_width = refimpl.blocks_from_doc(pages)
        assert engine_width == oracle_width
        assert len(engine_blocks) == len(oracle_blocks), f"seed {seed}"
        for eb, ob in zip(engine_blocks, oracle_blocks):
            pno, text, size, font, x0, y0, x1, y1, italic = eb
            # oracle strips text at TextBlock construction; engine keeps
            # the raw merged text until featurize — compare pre-strip
            # via the oracle's bbox + font identity and stripped text
            assert text.strip() == ob["text"], f"seed {seed}"
            assert (pno, size, font) == (ob["page_num"], ob["font_size"], ob["font_name"])
            assert (x0, y0, x1, y1) == tuple(ob["bbox"])
            assert italic == ob["is_italic"]


@pytest.mark.parametrize("seed_base", [60_000, 70_000])
def test_vectorized_analyzer_matches_oracle(seed_base):
    docs = {}
    expected = {}
    for i in range(250):
        rng = random.Random(seed_base + i)
        pages = corpus.random_spandoc(rng)
        url = f"u{i:04d}"
        res = refimpl.extract_document(pages)
        docs[url] = pages
        expected[url] = res

    rows = _block_rows(docs)
    got = {
        url: {"title": title, "outline": outline}
        for url, title, outline, _error in analyzer.analyze_batch(rows)
    }
    for url, exp in expected.items():
        if exp is None:
            assert url not in got
            continue
        assert url in got, url
        exp_json = refimpl.render_json(exp)
        got_json = json.dumps(got[url], indent=2, ensure_ascii=False)
        assert got_json == exp_json, f"{url}\nORACLE: {exp_json[:600]}\nENGINE: {got_json[:600]}"
