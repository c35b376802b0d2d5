"""Differential test: tests/refimpl.py (clean-room oracle) vs the
ACTUAL reference implementation at /root/reference.

The reference's analyzer is stdlib-only and its PDF parse loop only
touches the PyMuPDF API surface (`fitz.open`, `page.rect.width`,
`page.get_text("dict")`), so we import the real reference code with a
minimal fake ``fitz`` that serves our synthetic span documents. This
proves the oracle is behaviorally byte-identical to the reference on
thousands of random documents — which in turn anchors the Spark
pipeline's byte-identity tests (pipeline vs oracle).

Skipped automatically when /root/reference is absent (CI portability).
"""

from __future__ import annotations

import importlib.util
import json
import random
import sys
import types
from pathlib import Path

import pytest

import refimpl
from pdf_extractor_spark import corpus

REF = Path("/root/reference")

pytestmark = pytest.mark.skipif(not REF.exists(), reason="reference repo not available")

_DOC_REGISTRY: dict[str, list[dict]] = {}


class _FakeRect:
    def __init__(self, width: float):
        self.width = width


class _FakePage:
    def __init__(self, page: dict):
        self.rect = _FakeRect(page.get("width", 0.0))
        # spandoc shape: blocks = [block=[line=[span,...],...]]
        # fitz shape:    blocks = [{"lines": [{"spans": [...]}, ...]}]
        self._blocks = [
            {"lines": [{"spans": line} for line in block]} for block in page.get("blocks", [])
        ]

    def get_text(self, kind: str):
        assert kind == "dict"
        return {"blocks": self._blocks}


class _FakeDoc(list):
    def close(self):
        pass


def _fake_fitz_open(path: str) -> _FakeDoc:
    return _FakeDoc(_FakePage(p) for p in _DOC_REGISTRY[path])


def load_reference():
    """The actual reference's ``PDFOutlineExtractor``, imported from
    ``REF`` under a fake ``fitz`` whose ``open()`` serves the pages that
    ``_run_reference`` registers. Also used by tools/diff_soak.py and
    tools/verify_drive.py."""
    fake = types.ModuleType("fitz")
    fake.open = _fake_fitz_open
    sys.modules.setdefault("fitz", fake)
    sys.modules["fitz"].open = _fake_fitz_open
    if str(REF) not in sys.path:
        sys.path.insert(0, str(REF))
    spec = importlib.util.spec_from_file_location("ref_extract_outline", REF / "extract_outline.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.PDFOutlineExtractor()


@pytest.fixture(scope="module")
def reference_extractor():
    return load_reference()


def _run_reference(extractor, pages: list[dict]):
    _DOC_REGISTRY["doc"] = pages
    return extractor.process_single_pdf("doc")


@pytest.mark.parametrize("seed_base", [0, 10_000, 20_000])
def test_oracle_matches_reference_on_random_docs(reference_extractor, seed_base, capsys):
    n_match = 0
    for i in range(400):
        rng = random.Random(seed_base + i)
        pages = corpus.random_spandoc(rng)
        expected = _run_reference(reference_extractor, pages)
        actual = refimpl.extract_document(pages)
        if expected is None:
            assert actual is None, f"seed {seed_base + i}: oracle emitted where reference didn't"
            continue
        exp_json = json.dumps(expected, indent=2, ensure_ascii=False)
        act_json = refimpl.render_json(actual)
        assert act_json == exp_json, (
            f"seed {seed_base + i} mismatch:\nREF : {exp_json[:800]}\nOURS: {act_json[:800]}"
        )
        n_match += 1
    assert n_match > 300  # the vast majority of random docs are non-empty


def test_oracle_matches_reference_on_testdata_adapter(reference_extractor):
    """The documents→spandoc adapter used by __spark_entry__.entry."""
    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            "select doc_id, text from read_parquet('/root/testdata/sf0.001/documents.parquet') order by doc_id"
        )
        .fetchall()
    )
    assert rows
    for doc_id, text in rows[:50]:
        pages = corpus.spandoc_from_doc_row(doc_id, text)
        expected = _run_reference(reference_extractor, pages)
        actual = refimpl.extract_document(pages)
        assert (expected is None) == (actual is None)
        if expected is not None:
            assert refimpl.render_json(actual) == json.dumps(expected, indent=2, ensure_ascii=False)
