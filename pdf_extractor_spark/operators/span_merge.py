"""Engine-side span→TextBlock merge (reference: extract_outline.py:27-114).

This is the order-dependent fold (SURVEY.md §2.3, M1-M4) that merges
same-line spans into TextBlocks. It is genuinely non-relational: the
run's comparison baseline (bbox) MUTATES as spans merge, so a pure
window/gaps-and-islands formulation cannot reproduce it exactly. It
runs at document granularity inside the Arrow parse stage — the Spark
"row" is the document, so this is not per-Spark-row Python.

A relational gaps-and-islands approximation of the same pattern (lag +
cumsum + groupBy) lives in plans/relational.py as `m1_sessionize` for
the SQL-oracle surface.
"""

from __future__ import annotations


def merge_doc_spans(pages: list[dict]) -> tuple[list[tuple], float]:
    """Fold every line's spans into merged blocks for one document.

    Returns ([(page_num, text, size, font, x0, y0, x1, y1, italic)],
    page_width). ``italic`` is captured at run start ('italic' in the
    lowercased font, extract_outline.py:46) and carried for fidelity —
    the reference stores but never consumes it (SURVEY §2.4 D7).
    Rules (cited from extract_outline.py):
      - whitespace-only spans dropped (:38-39)
      - run continues iff same font, |Δsize| ≤ 1.0, |Δy0| ≤ max(0.2·sz, 2)
        vs the mutating run bbox (:47-49)
      - x-gap < 0 or ≤ 0.3·sz → concat; ≤ 1.5·sz → concat with " ";
        else flush + restart WITHOUT bbox union (:51-73)
      - bbox union is running min/min/max/max (:75-80)
      - page_width read from page 0 only (:24-26)
    """
    out: list[tuple] = []
    append = out.append
    page_width = 0.0
    for pno, page in enumerate(pages):
        if pno == 0:
            page_width = float(page.get("width", 0.0))
        for block in page.get("blocks", []):
            for line in block:
                # One line's fold with scalar locals (tuple pack/unpack
                # per span dominated the fold's cost); semantics match
                # tests/refimpl.merge_line_spans incl. max()'s NaN
                # handling — max(nan, 2) is nan, so a NaN size keeps
                # rejecting the run-continuation test. The
                # property-based suite cross-checks the two.
                text = None
                for sp in line:
                    txt = sp["text"]
                    if not txt.strip():
                        continue
                    bx = sp["bbox"]
                    if (
                        text is not None
                        and sp["font"] == font
                        and abs(sp["size"] - size) <= 1.0
                        and abs(bx[1] - y0) <= max(size * 0.2, 2)
                    ):
                        gap = bx[0] - x1
                        # the '' and ' ' arms of :51-73 (a gap ≥ 0 that is
                        # ≤ 0.3·sz is also ≤ 1.5·sz)
                        if gap < 0 or gap <= size * 1.5:
                            text += txt if gap < 0 or gap <= size * 0.3 else " " + txt
                            if bx[0] < x0:
                                x0 = bx[0]
                            if bx[1] < y0:
                                y0 = bx[1]
                            if bx[2] > x1:
                                x1 = bx[2]
                            if bx[3] > y1:
                                y1 = bx[3]
                            continue
                    # first span, run mismatch, or a far gap: flush and
                    # restart WITHOUT bbox union (:51-73). A run starts
                    # on a non-blank span, so its text is never blank.
                    if text is not None:
                        append((pno, text, size, font, x0, y0, x1, y1, italic))
                    font = sp["font"]
                    size = sp["size"]
                    text = txt
                    x0, y0, x1, y1 = bx[0], bx[1], bx[2], bx[3]
                    italic = "italic" in font.lower()
                if text is not None:
                    append((pno, text, size, font, x0, y0, x1, y1, italic))
    return out, page_width

