"""Property-based differential tests (SURVEY §5.2.2, hypothesis).

Adversarially-generated span documents — degenerate bboxes, unicode
whitespace, numbering/poster trigger strings, size/position jitter at
the exact rule thresholds — are pushed through BOTH the clean-room
oracle (tests/refimpl.py, proven byte-identical to the reference) and
the engine's vectorized path (span_merge + analyzer, the exact code
the mapInPandas stage runs). Hypothesis shrinks any divergence to a
minimal counterexample, covering branch combinations the seeded
corpus never reaches.
"""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import refimpl
from pdf_extractor_spark.operators import analyzer, span_merge

# text pool stresses every classifier: numbering regexes (incl. the
# 'I.'→'A.' priority quirk), case classes, poster keywords, version
# exclusion, unicode whitespace/letters, field labels, URLs
_TEXTS = [
    "Introduction", "1. Overview", "2.3 Methods", "1.2.3 Deep Dive",
    "A. Appendix", "I. Roman", "IV. Later", "RSVP: now", "ADDRESS: here",
    "Version 2.0", "THE BIG TITLE", "mixed Case words", "lower only",
    "naïve Überblick", "中文标题", "  ", " ", "x", "see you there",
    "party invited rsvp", "www.example.com", "a" * 120, "Hope to see you",
    "Date: Time: For:", "Results 3.1", "10. Ten", "2.9 edge",
]
_FONTS = [
    "Helvetica", "Times-Bold", "Arial-Italic", "Courier-BoldItalic",
    "GaramondSemiBold", "Heavy-Face", "DemiLight", "Black-Ops",
]

_span = st.fixed_dictionaries(
    {
        "text": st.sampled_from(_TEXTS),
        "font": st.sampled_from(_FONTS),
        # sizes straddle the 8.0 body gate, the 1.15/1.3/1.5 tier
        # ratios and the ±1.0 merge tolerance
        "size": st.sampled_from([7.5, 8.0, 9.0, 9.5, 10.0, 10.5, 11.5, 13.0, 15.0, 18.0, 24.0]),
        "x0": st.floats(0, 500, allow_nan=False, width=32),
        "dx": st.sampled_from([0.0, 0.1, 2.0, 3.3, 14.0, 16.0, 60.0]),  # x-gap thresholds
        "w": st.floats(1, 200, allow_nan=False, width=32),
        "dy": st.sampled_from([0.0, 0.5, 1.9, 2.0, 2.1, 5.0]),  # y-jitter at merge tolerance
    }
)

_line = st.lists(_span, min_size=1, max_size=5)
_block = st.lists(_line, min_size=1, max_size=3)
_page = st.lists(_block, min_size=0, max_size=4)
_doc = st.lists(_page, min_size=1, max_size=3)


def _materialize(doc_spec) -> list[dict]:
    """Turn the abstract spec into parser-output pages with running
    x/y geometry (dx chains spans; dy jitters the shared line y)."""
    pages = []
    for pno, page_spec in enumerate(doc_spec):
        blocks = []
        y = 40.0
        for block_spec in page_spec:
            lines = []
            for line_spec in block_spec:
                x = None
                spans = []
                base_y = y
                for sp in line_spec:
                    x = sp["x0"] if x is None else x + sp["dx"]
                    y0 = base_y + sp["dy"]
                    spans.append(
                        {
                            "text": sp["text"],
                            "font": sp["font"],
                            "size": sp["size"],
                            "bbox": (x, y0, x + sp["w"], y0 + sp["size"] * 1.2),
                        }
                    )
                    x += sp["w"]
                lines.append(spans)
                y += 14.0
            blocks.append(lines)
        pages.append({"width": 612.0, "blocks": blocks})
    return pages


@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_doc)
def test_span_merge_property(doc_spec):
    """Engine merge fold ≡ oracle merge fold on adversarial geometry."""
    pages = _materialize(doc_spec)
    engine_blocks, engine_width = span_merge.merge_doc_spans(pages)
    oracle_blocks, oracle_width = refimpl.blocks_from_doc(pages)
    assert engine_width == oracle_width
    assert len(engine_blocks) == len(oracle_blocks)
    for eb, ob in zip(engine_blocks, oracle_blocks):
        pno, text, size, font, x0, y0, x1, y1, italic = eb
        assert text.strip() == ob["text"]
        assert (pno, size, font) == (ob["page_num"], ob["font_size"], ob["font_name"])
        assert (x0, y0, x1, y1) == tuple(ob["bbox"])


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_doc, min_size=1, max_size=4))
def test_full_pipeline_property(doc_specs):
    """Vectorized multi-document analysis ≡ per-document oracle, down
    to the rendered JSON bytes (titles, outline levels, G14 sort)."""
    docs = {f"u{i}": _materialize(spec) for i, spec in enumerate(doc_specs)}
    rows = []
    expected = {}
    for url, pages in docs.items():
        merged, width = span_merge.merge_doc_spans(pages)
        for bidx, (pno, text, size, font, x0, y0, x1, y1, _it) in enumerate(merged):
            rows.append((url, bidx, pno, text, size, font, x0, y0, x1, y1, width))
        oracle = refimpl.extract_document(pages)
        expected[url] = None if oracle is None else refimpl.render_json(oracle)

    if rows:
        frame = pd.DataFrame(
            rows,
            columns=["url", "block_idx", "page_num", "text", "font_size",
                     "font_name", "x0", "y0", "x1", "y1", "page_width"],
        )
        got = {
            url: json.dumps({"title": t, "outline": o}, indent=2, ensure_ascii=False)
            for url, t, o in analyzer.analyze_batch(frame)
        }
    else:
        got = {}
    for url, exp in expected.items():
        assert got.get(url) == exp, url


def _fold_via_oracle(pages):
    """Fold every line with the oracle's per-line fold, in the engine's
    tuple shape. Text is kept as the fold produced it — before
    make_block strips it — so whitespace handling is compared too."""
    out: list[tuple] = []
    page_width = 0.0
    for pno, page in enumerate(pages):
        if pno == 0:
            page_width = float(page.get("width", 0.0))
        for block in page.get("blocks", []):
            for line in block:
                for m in refimpl.merge_line_spans(line):
                    out.append((pno, m["text"], m["size"], m["font"], *m["bbox"], m["italic"]))
    return out, page_width


# NaN sizes exercise the max(nan, 2)/comparison-ordering semantics the
# inline fold must preserve (json.loads accepts NaN, so a mutated
# spandoc can carry one).
_span_nan = st.fixed_dictionaries(
    {
        "text": st.sampled_from(_TEXTS),
        "font": st.sampled_from(_FONTS),
        "size": st.sampled_from([7.5, 10.0, 24.0, float("nan")]),
        "x0": st.one_of(st.floats(0, 500, allow_nan=False, width=32), st.just(float("nan"))),
        "dx": st.sampled_from([0.0, 2.0, 16.0, 60.0, float("nan")]),
        "w": st.floats(1, 200, allow_nan=False, width=32),
        "dy": st.sampled_from([0.0, 2.0, 5.0]),
    }
)
_doc_nan = st.lists(
    st.lists(st.lists(st.lists(_span_nan, min_size=1, max_size=5), min_size=1, max_size=3),
             min_size=0, max_size=4),
    min_size=1,
    max_size=3,
)


def _nan_eq(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float) and a != a and b != b)


@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_doc_nan)
def test_span_merge_inline_matches_spec(doc_spec):
    """The inlined fold in merge_doc_spans ≡ the oracle's per-line fold
    (refimpl.merge_line_spans), including NaN geometry/size
    propagation."""
    pages = _materialize(doc_spec)
    inline_blocks, inline_width = span_merge.merge_doc_spans(pages)
    spec_blocks, spec_width = _fold_via_oracle(pages)
    assert inline_width == spec_width
    assert len(inline_blocks) == len(spec_blocks)
    for ib, sb in zip(inline_blocks, spec_blocks):
        assert len(ib) == len(sb)
        for x, y in zip(ib, sb):
            assert _nan_eq(x, y), (ib, sb)


@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
            min_size=1,
            max_size=60,
        ).filter(lambda s: s.strip()),
        min_size=1,
        max_size=8,
    )
)
def test_pdf_writer_parser_roundtrip(lines):
    """Property: arbitrary printable-ASCII lines written as a PDF
    content stream (with ()\\ escaping) come back EXACTLY through the
    pure-Python parser — writer and parser are inverses on text.
    Exercises literal-string escape handling end to end."""
    import zlib

    from pdf_extractor_spark.corpus import _pdf_escape
    from pdf_extractor_spark.sources import pdfparse

    ops = []
    y = 720
    for ln in lines:
        ops.append(b"BT /F1 12 Tf 72 %d Td (%s) Tj ET" % (y, _pdf_escape(ln)))
        y -= 24
    content = zlib.compress(b"\n".join(ops))
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}

    def emit(num, body):
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num)
        buf.extend(body)
        buf.extend(b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>")
    emit(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    emit(
        4,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>",
    )
    emit(
        5,
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(content), content),
    )
    xref_off = len(buf)
    buf.extend(b"xref\n0 6\n0000000000 65535 f \n")
    for num in range(1, 6):
        buf.extend(b"%010d 00000 n \n" % offsets[num])
    buf.extend(
        b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % xref_off
    )

    pages = pdfparse.extract_spans(bytes(buf))
    got = [sp["text"] for p in pages for b in p["blocks"] for l in b for sp in l]
    assert got == lines
