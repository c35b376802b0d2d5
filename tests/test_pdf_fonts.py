"""Exotic font paths of the pure-Python PDF parser: Type3 glyph fonts
and Type0 composite fonts with EMBEDDED (non-Identity) CID CMap
streams — the round-3 verdict's remaining parser delta vs fitz.

All expectations are construction truth: each test assembles a minimal
classic-xref PDF by hand, so the expected text and advance widths are
known exactly from the font tables written into it (ISO 32000-1
§9.6.5 Type3, §9.7.5.3 embedded CMaps). Reference behavior parity:
MuPDF names Type3 fonts from /Name else 'Unnamed-T3' and transforms
/Widths and /FontBBox through /FontMatrix (pdf-type3.c)."""

from __future__ import annotations

import random
import zlib

import pytest

from pdf_extractor_spark.sources.pdfparse import (
    Font,
    PdfDocument,
    Ref,
    _base_enc_table,
    _parse_cid_cmap,
    extract_spans,
)


def _build(font_objs: list[tuple[int, bytes]], content: bytes, page_obj: int) -> bytes:
    buf = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num)
        buf.extend(body)
        buf.extend(b"\nendobj\n")

    data = zlib.compress(content)
    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page_obj)
    for num, body in font_objs:
        emit(num, body)
    emit(
        page_obj,
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (page_obj + 1),
    )
    emit(
        page_obj + 1,
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(data), data),
    )
    n = page_obj + 2
    xref = len(buf)
    buf.extend(b"xref\n0 %d\n" % n)
    buf.extend(b"0000000000 65535 f \n")
    for i in range(1, n):
        buf.extend(b"%010d 00000 n \n" % offsets[i])
    buf.extend(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (n, xref)
    )
    return bytes(buf)


def _only_line(pdf: bytes) -> dict:
    """The single span of a one-line page (blocks -> lines -> spans)."""
    pages = extract_spans(pdf)
    assert len(pages) == 1
    spans = [sp for blk in pages[0]["blocks"] for ln in blk for sp in ln]
    assert len(spans) == 1
    return spans[0]


_STREAM = b"<< /Length %d >>\nstream\n%s\nendstream"


def _t3_font(matrix: bytes = b"[0.01 0 0 0.01 0 0]", name: bytes = b"/Name /T3 ") -> list:
    return [
        (
            3,
            b"<< /Type /Font /Subtype /Type3 " + name + b"/FontBBox [0 -20 100 100] "
            b"/FontMatrix " + matrix + b" /CharProcs 4 0 R "
            b"/Encoding << /Differences [65 /A /B /C] >> "
            b"/FirstChar 65 /LastChar 67 /Widths [60 60 60] >>",
        ),
        (4, b"<< >>"),
    ]


class TestType3:
    def test_text_name_and_fontmatrix_scaled_advance(self):
        ln = _only_line(_build(_t3_font(), b"BT /F1 24 Tf 72 700 Td (ABC) Tj ET", 5))
        assert ln["text"] == "ABC"
        assert ln["font"] == "T3"
        assert ln["size"] == 24.0
        # width 60 glyph units x FontMatrix 0.01 = 0.6 em -> 14.4pt/glyph
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(43.2, abs=1e-6)
        # FontBBox [0 -20 100 100] x 0.01 -> ascent 1.0, descent -0.2
        assert ln["bbox"][3] - ln["bbox"][1] == pytest.approx(24.0 * 1.2, abs=1e-6)

    def test_standard_thousandth_matrix_unchanged(self):
        # FontMatrix 0.001 == the simple-font convention: 60/1000 em
        t3 = _t3_font(matrix=b"[0.001 0 0 0.001 0 0]")
        ln = _only_line(_build(t3, b"BT /F1 24 Tf 72 700 Td (ABC) Tj ET", 5))
        assert ln["text"] == "ABC"
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(4.32, abs=1e-6)

    def test_unnamed_t3_fallback(self):
        ln = _only_line(
            _build(_t3_font(name=b""), b"BT /F1 24 Tf 72 700 Td (ABC) Tj ET", 5)
        )
        assert ln["font"] == "Unnamed-T3"


def _type0(cmap: bytes, tounicode: bytes, w: bytes, base: bytes = b"/Cust") -> list:
    return [
        (
            3,
            b"<< /Type /Font /Subtype /Type0 /BaseFont " + base
            + b" /Encoding 6 0 R /DescendantFonts [4 0 R] /ToUnicode 7 0 R >>",
        ),
        (
            4,
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont " + base
            + b" /CIDSystemInfo << /Registry (X) /Ordering (Y) /Supplement 0 >> "
            b"/DW 1000 /W " + w + b" >>",
        ),
        (5, b"<< >>"),
        (6, _STREAM % (len(cmap), cmap)),
        (7, _STREAM % (len(tounicode), tounicode)),
    ]


class TestEmbeddedCidCmap:
    def test_one_byte_codespace_cidrange(self):
        """1-byte codes A..C -> CID 100.. ; width keyed by CID not code."""
        cmap = (
            b"begincmap\n"
            b"1 begincodespacerange <41> <5A> endcodespacerange\n"
            b"1 begincidrange <41> <43> 100 endcidrange\nendcmap"
        )
        tou = (
            b"begincmap\n1 beginbfrange <41> <43> <0058> endbfrange\nendcmap"
        )
        ln = _only_line(
            _build(
                _type0(cmap, tou, b"[100 [250 250 250]]"),
                b"BT /F1 24 Tf 72 700 Td (ABC) Tj ET",
                8,
            )
        )
        assert ln["text"] == "XYZ"
        # 3 glyphs x CID-width 250/1000 em x 24pt = 18pt (identity
        # decoding would read 2-byte codes -> 2 glyphs at DW 1000 = 48pt)
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(18.0, abs=1e-6)

    def test_mixed_width_codespace_segmentation(self):
        """Shift-JIS-like codespace: 1-byte <00>-<7F> + 2-byte
        <8140>-<FEFE>; the same show string must segment 'AB<8140>C'
        into 4 glyphs with per-bucket code lengths."""
        cmap = (
            b"begincmap\n"
            b"2 begincodespacerange <00> <7F> <8140> <FEFE> endcodespacerange\n"
            b"1 begincidrange <41> <43> 100 endcidrange\n"
            b"1 begincidchar <8140> 500 endcidchar\nendcmap"
        )
        tou = (
            b"begincmap\n1 beginbfrange <41> <43> <0058> endbfrange\n"
            b"1 beginbfchar <8140> <3042> endbfchar\nendcmap"
        )
        ln = _only_line(
            _build(
                _type0(cmap, tou, b"[100 [250 250 250] 500 [800]]", base=b"/Mix"),
                b"BT /F1 24 Tf 72 700 Td (AB\x81\x40C) Tj ET",
                8,
            )
        )
        assert ln["text"] == "XYあZ"
        # 3x250 + 1x800 thousandths at 24pt = 18 + 19.2
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(37.2, abs=1e-6)

    def test_malformed_cmap_falls_back_to_identity(self):
        """A garbage Encoding stream must not fail the parse: 2-byte
        identity fallback, text via ToUnicode when resolvable."""
        cmap = b"\x00\xff not a cmap at all <zz"
        tou = b"begincmap\n1 beginbfchar <4142> <0051> endbfchar\nendcmap"
        ln = _only_line(
            _build(
                _type0(cmap, tou, b"[]"),
                b"BT /F1 24 Tf 72 700 Td (AB) Tj ET",
                8,
            )
        )
        assert ln["text"] == "Q"  # code 0x4142 via 2-byte identity

    def test_identity_h_name_still_two_byte(self):
        """/Encoding /Identity-H (a Name, not a stream) keeps the fast
        fixed-2-byte path."""
        objs = [
            (
                3,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /Id /Encoding /Identity-H"
                b" /DescendantFonts [4 0 R] /ToUnicode 7 0 R >>",
            ),
            (4, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Id /DW 600 >>"),
            (5, b"<< >>"),
            (6, b"<< >>"),
            (
                7,
                _STREAM
                % (
                    len(b"begincmap\n1 beginbfchar <0041> <0041> endbfchar\nendcmap"),
                    b"begincmap\n1 beginbfchar <0041> <0041> endbfchar\nendcmap",
                ),
            ),
        ]
        ln = _only_line(_build(objs, b"BT /F1 24 Tf 72 700 Td (\x00A) Tj ET", 8))
        assert ln["text"] == "A"
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(14.4, abs=1e-6)


class TestSparkPipeline:
    def test_exotic_fonts_through_extract_pages(self):
        """Type3 and embedded-CMap PDFs must flow through the full
        Spark pipeline (payload detect → parse → analyzer → JSON) as
        parse_ok rows whose extracted text matches construction truth."""
        from pdf_extractor_spark.operators.extract import extract_pages
        from pdf_extractor_spark.session import get_spark

        spark = get_spark("test_fonts", shuffle_partitions=4)
        t3_pdf = _build(_t3_font(), b"BT /F1 24 Tf 72 700 Td (Heading Alpha) Tj ET", 5)
        cmap = (
            b"begincmap\n"
            b"1 begincodespacerange <41> <5A> endcodespacerange\n"
            b"1 begincidrange <41> <5A> 100 endcidrange\nendcmap"
        )
        tou = b"begincmap\n1 beginbfrange <41> <5A> <0041> endbfrange\nendcmap"
        t0_pdf = _build(
            _type0(cmap, tou, b"[100 [500]]"),
            b"BT /F1 24 Tf 72 700 Td (CMAPTITLE) Tj ET",
            8,
        )
        df = spark.createDataFrame(
            [("u_t3", t3_pdf), ("u_t0", t0_pdf)], "url string, html binary"
        )
        rows = {
            r["url"]: r
            for r in extract_pages(df).select("url", "parse_ok", "outline_json").collect()
        }
        assert rows["u_t3"]["parse_ok"] and rows["u_t0"]["parse_ok"]
        # Type3: Differences overrides A-C, the cp1252 base table
        # covers the rest of the string; Type0: bfrange maps A..Z
        assert "Heading Alpha" in rows["u_t3"]["outline_json"]
        assert "CMAPTITLE" in rows["u_t0"]["outline_json"]


class TestInlineImageSkip:
    def test_ei_inside_image_bytes_does_not_truncate_page(self):
        """Inline-image data containing b'EI ' mid-bytes must not end
        the BI..EI skip early and swallow the text that follows."""
        t3 = [(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"), (4, b"<< >>")]
        content = (
            b"BT /F1 24 Tf 72 700 Td (Before) Tj ET\n"
            b"BI /W 4 /H 1 /BPC 8 /CS /G ID \x00EI \x01\xffzz EI\n"
            b"BT /F1 24 Tf 72 600 Td (After) Tj ET"
        )
        pages = extract_spans(_build(t3, content, 5))
        texts = [
            sp["text"] for blk in pages[0]["blocks"] for ln in blk for sp in ln
        ]
        assert texts == ["Before", "After"]


class TestCidCmapParser:
    def test_parse_shapes(self):
        cs, runs = _parse_cid_cmap(
            b"2 begincodespacerange <00> <80> <8140> <FEFE> endcodespacerange\n"
            b"1 begincidchar <20> 1 endcidchar\n"
            b"2 begincidrange <41> <5A> 100 <61> <7A> 200 endcidrange"
        )
        assert cs == [(1, b"\x00", b"\x80"), (2, b"\x81\x40", b"\xfe\xfe")]
        # (lo, hi, CID - code): every cidrange, then every cidchar
        assert runs == [(0x41, 0x5A, 100 - 0x41), (0x61, 0x7A, 200 - 0x61), (0x20, 0x20, 1 - 0x20)]

    def test_empty_input(self):
        assert _parse_cid_cmap(b"") == ([], [])

    def test_bytewise_codespace_membership(self):
        """ISO 32000-1 §9.7.6.2: range membership is per-byte, not an
        integer compare — <8140><FEFE> excludes 0x81FF (second byte
        0xFF > 0xFE) even though 0x81FF < 0xFEFE as an integer."""
        cmap = (
            b"begincmap\n"
            b"2 begincodespacerange <00> <7F> <8140> <FEFE> endcodespacerange\n"
            b"endcmap"
        )
        tou = b"begincmap\n1 beginbfchar <41> <0041> endbfchar\nendcmap"
        # 0x81 0xFF: NOT in the 2-byte range byte-wise and 0x81 is not
        # in the 1-byte range -> error recovery consumes 1 byte (the
        # shortest declared length), then 0xFF likewise, then 'A'
        ln = _only_line(
            _build(
                _type0(cmap, tou, b"[]"),
                b"BT /F1 24 Tf 72 700 Td (\x81\xffA) Tj ET",
                8,
            )
        )
        assert ln["text"].endswith("A") and len(ln["text"]) == 3

    def test_cidrange_without_codespace_still_keys_widths_by_cid(self):
        """A sloppy CMap that omits codespacerange but declares
        cidranges must still route width lookups through code→CID
        (default 2-byte space)."""
        cmap = b"begincmap\n1 begincidrange <0041> <0043> 100 endcidrange\nendcmap"
        tou = b"begincmap\n1 beginbfrange <0041> <0043> <0058> endbfrange\nendcmap"
        ln = _only_line(
            _build(
                _type0(cmap, tou, b"[100 [250 250 250]]"),
                b"BT /F1 24 Tf 72 700 Td (\x00A\x00B\x00C) Tj ET",
                8,
            )
        )
        assert ln["text"] == "XYZ"
        # CID widths 250/1000 em x 24pt x 3 glyphs; identity (code-keyed)
        # lookup would miss and fall to DW 1000 -> 72pt
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(18.0, abs=1e-6)


class TestPredefinedUnicodeCmaps:
    """Predefined Uni*-(UCS2|UTF16)-[HV] CMaps BY NAME (no embedded
    stream, no external table files): their defining structure — ISO
    32000-1 §9.7.5.2, Adobe CMap resource docs — is that source codes
    ARE UCS-2 / UTF-16BE code units, so TEXT must decode with no table
    at all. Construction truth: the show strings below are the UTF-16BE
    bytes of the expected text. Widths stay at /DW (the code→CID table
    is external data we don't ship — metrics-only delta, text exact)."""

    @staticmethod
    def _named_type0(enc: bytes, tounicode: bytes | None = None) -> list:
        objs = [
            (
                3,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /CJK /Encoding " + enc
                + b" /DescendantFonts [4 0 R]"
                + (b" /ToUnicode 7 0 R" if tounicode else b"")
                + b" >>",
            ),
            (4, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /CJK /DW 1000 >>"),
            (5, b"<< >>"),
            (6, b"<< >>"),
        ]
        if tounicode:
            objs.append((7, _STREAM % (len(tounicode), tounicode)))
        else:
            objs.append((7, b"<< >>"))  # xref needs contiguous obj numbers
        return objs

    def test_ucs2_name_decodes_text_without_tounicode(self):
        # '中文' = U+4E2D U+6587 → UTF-16BE 4E2D 6587
        ln = _only_line(
            _build(
                self._named_type0(b"/UniGB-UCS2-H"),
                b"BT /F1 24 Tf 72 700 Td (\x4e\x2d\x65\x87) Tj ET",
                8,
            )
        )
        assert ln["text"] == "中文"
        # widths fall back to DW 1000: 2 glyphs x 24pt
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(48.0, abs=1e-6)

    def test_utf16_name_decodes_surrogate_pair(self):
        # U+20BB7 (𠮷) → UTF-16BE D842 DFB7 (4-byte code), then 'あ'
        ln = _only_line(
            _build(
                self._named_type0(b"/UniJIS-UTF16-H"),
                b"BT /F1 24 Tf 72 700 Td (\xd8\x42\xdf\xb7\x30\x42) Tj ET",
                8,
            )
        )
        assert ln["text"] == "\U00020bb7あ"
        # 2 glyphs (the pair is ONE code) x DW 1000 x 24pt
        assert ln["bbox"][2] - ln["bbox"][0] == pytest.approx(48.0, abs=1e-6)

    def test_tounicode_still_wins_over_structural_decode(self):
        """When a ToUnicode CMap IS present it stays the text
        authority (real-corpus behavior): the structural decode only
        fills codes ToUnicode does not map."""
        tou = b"begincmap\n1 beginbfchar <4E2D> <0051> endbfchar\nendcmap"
        ln = _only_line(
            _build(
                self._named_type0(b"/UniGB-UCS2-H", tounicode=tou),
                b"BT /F1 24 Tf 72 700 Td (\x4e\x2d\x65\x87) Tj ET",
                8,
            )
        )
        assert ln["text"] == "Q文"

    def test_lone_surrogate_replacement_and_legacy_name_identity(self):
        # lone high surrogate in a UCS2 stream → replacement glyph
        ln = _only_line(
            _build(
                self._named_type0(b"/UniKS-UCS2-H"),
                b"BT /F1 24 Tf 72 700 Td (\xd8\x00\xac\x00) Tj ET",
                8,
            )
        )
        assert ln["text"] == "�가"
        # a LEGACY predefined name (external table data) keeps the old
        # identity fallback: unmapped codes render as replacement
        ln2 = _only_line(
            _build(
                self._named_type0(b"/90ms-RKSJ-H"),
                b"BT /F1 24 Tf 72 700 Td (\x4e\x2d) Tj ET",
                8,
            )
        )
        assert ln2["text"] == "�"

    def test_half_width_variant_name_decodes(self):
        """UniJIS-UCS2-HW-H (ISO 32000-1 table 118: half-width glyph
        substitution — WIDTH-only difference, identical UCS-2 code
        structure) must decode structurally too."""
        ln = _only_line(
            _build(
                self._named_type0(b"/UniJIS-UCS2-HW-H"),
                b"BT /F1 24 Tf 72 700 Td (\x30\x42\x00A) Tj ET",
                8,
            )
        )
        assert ln["text"] == "あA"


def _identity_type0(w: bytes) -> Font:
    """The Type0 font (Identity-H, /DW 700, the given /W) of a one-page
    PDF, as the parser builds it."""
    pdf = _build(
        [
            (
                3,
                b"<< /Type /Font /Subtype /Type0 /BaseFont /Cid "
                b"/Encoding /Identity-H /DescendantFonts [4 0 R] >>",
            ),
            (4, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Cid /DW 700 /W " + w + b" >>"),
        ],
        b"BT /F1 24 Tf 72 700 Td <0000> Tj ET",
        5,
    )
    doc = PdfDocument(pdf)
    return Font(doc, doc.resolve(Ref(3, 0)))


def _expanded_widths(w_array: list) -> dict[int, float]:
    """/W expanded one dict slot per CID, later entries overwriting."""
    out: dict[int, float] = {}
    i = 0
    while i < len(w_array):
        if isinstance(w_array[i + 1], list):
            for j, w in enumerate(w_array[i + 1]):
                out[w_array[i] + j] = float(w)
            i += 2
        else:
            for c in range(w_array[i], w_array[i + 1] + 1):
                out[c] = float(w_array[i + 2])
            i += 3
    return out


class TestCidWidths:
    def test_range_entry_stays_one_interval(self):
        """A 15-byte /W range over a million CIDs is kept as a range,
        not expanded to a slot per CID (10^8 CIDs would take ~10 GB)."""
        font = _identity_type0(b"[0 1000000 500]")
        assert not font.widths and len(font._cid_w.starts) <= 2
        for cid in (0, 500000, 1000000):
            assert font._cid_width(cid) == 500.0
        assert font._cid_width(1000001) == 700.0
        assert [w for _t, w, _c in font.decode(b"\x00\x00\xff\xff")] == [500.0, 500.0]

    def test_later_entry_wins_like_expanded_table(self):
        rng = random.Random(5)
        for _ in range(300):
            w_array: list = []
            for _e in range(rng.randint(1, 6)):
                lo = rng.randint(0, 30)
                if rng.random() < 0.5:
                    w_array += [lo, [rng.choice((100, 250, 1000)) for _ in range(rng.randint(1, 5))]]
                else:
                    w_array += [lo, lo + rng.randint(-1, 12), rng.choice((300, 600))]
            expanded = _expanded_widths(w_array)
            font = _identity_type0(_pdf_array(w_array))
            assert [font._cid_width(c) for c in range(-1, 50)] == [
                expanded.get(c, 700.0) for c in range(-1, 50)
            ], w_array


def _pdf_array(items: list) -> bytes:
    return b"[" + b" ".join(_pdf_array(v) if isinstance(v, list) else b"%d" % v for v in items) + b"]"


_TYPE0_IDENTITY = (
    b"<< /Type /Font /Subtype /Type0 /BaseFont /U /Encoding /Identity-H "
    b"/DescendantFonts [4 0 R] /ToUnicode 5 0 R >>"
)
_TYPE1 = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 5 0 R >>"


def _with_tounicode(font: bytes, tounicode: bytes) -> list:
    """Font objects 3-5 for `_build` (page object 6): ``font`` as /F1, a
    CIDFont for a Type0 to descend to, and the ToUnicode Flate stream."""
    data = zlib.compress(tounicode)
    return [
        (3, font),
        (4, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /U /DW 1000 >>"),
        (5, b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(data), data)),
    ]


def _parsed_font(objs: list, page_obj: int = 6) -> Font:
    """The /F1 font of a one-page PDF, as the parser builds it."""
    doc = PdfDocument(_build(objs, b"BT /F1 24 Tf 72 700 Td <00> Tj ET", page_obj))
    return Font(doc, doc.resolve(Ref(3, 0)))


def _tounicode_bomb(n_ranges: int = 200) -> bytes:
    """A ~1.7 KB PDF whose Type0 font declares ``n_ranges`` disjoint
    ToUnicode bfranges of 65,536 codes each (~860 bytes deflated); its
    page shows codes 0, 1, 2, which map to "ABC"."""
    tu = (
        b"begincmap\n%d beginbfrange\n" % n_ranges
        + b"".join(b"<%08X> <%08X> <0041>\n" % (k << 16, (k << 16) + 0xFFFF) for k in range(n_ranges))
        + b"endbfrange\nendcmap"
    )
    return _build(_with_tounicode(_TYPE0_IDENTITY, tu), b"BT /F1 24 Tf 72 700 Td <000000010002> Tj ET", 6)


def _utf16_text(h: str) -> str:
    """A ToUnicode hex string's text: UTF-16BE, an odd byte count padded
    with a leading zero byte, latin-1 where UTF-16 does not decode."""
    b = bytes.fromhex(h)
    if len(b) % 2:
        b = b"\x00" + b
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("latin-1", "replace")


def _expanded_tounicode(sections: list) -> dict[int, str]:
    """ToUnicode sections expanded one dict slot per code: every bfchar
    entry, then every bfrange entry, later entries overwriting. A scalar
    bfrange covers at most 65,536 codes, counting up the last character
    of its base. A ValueError (odd hex digits, a text past U+10FFFF)
    drops the whole map."""
    out: dict[int, str] = {}
    try:
        for kind, entries in sorted(sections, key=lambda sec: sec[0] == "range"):
            for e in entries:
                if kind == "char":
                    out[e[0]] = _utf16_text(e[1])
                elif isinstance(e[2], list):
                    for i, h in enumerate(e[2]):
                        if e[0] + i <= e[1]:
                            out[e[0] + i] = _utf16_text(h)
                else:
                    s = _utf16_text(e[2])
                    for c in range(e[0], min(e[1], e[0] + 65535) + 1):
                        out[c] = s[:-1] + chr(ord(s[-1]) + c - e[0])
    except ValueError:
        return {}
    return out


def _cmap(sections: list, prefix: bytes, head: bytes = b"") -> bytes:
    """CMap text of ``(kind, entries)`` sections, kind "char" or "range",
    as ``begin<prefix><kind>`` blocks. An entry's codes are written as
    4-digit hex and its value as hex text (a str), an array of them (a
    list) or a CID (an int)."""

    def value(v) -> bytes:
        if isinstance(v, int):
            return b"%d" % v
        if isinstance(v, list):
            return b"[" + b" ".join(map(value, v)) + b"]"
        return b"<%s>" % v.encode()

    out = b"begincmap\n" + head
    for kind, entries in sections:
        tag = prefix + kind.encode()
        out += b"%d begin%s\n" % (len(entries), tag)
        for e in entries:
            out += b" ".join([b"<%04X>" % c for c in e[:-1]] + [value(e[-1])]) + b"\n"
        out += b"end%s\n" % tag
    return out + b"endcmap"


def _random_tounicode(rng: random.Random) -> list:
    """Small random ToUnicode sections: bfchar, scalar and array
    bfranges, overlaps, reversed ranges, multi-character bases (a lone
    surrogate falls back to two latin-1 characters), odd byte counts,
    a base near U+10FFFF, odd hex digits, and ranges past the cap."""

    def text() -> str:
        return rng.choice(
            ["%04X" % rng.choice((0x41, 0x61, 0xE9, 0x3042)), "%02X" % rng.randint(0x30, 0x7A),
             "0066%04X" % rng.randint(0x61, 0x7A), "D800", "DBFFDFF8"]
            + ["041"] * (rng.random() < 0.05)
        )

    sections = []
    for _s in range(rng.randint(1, 4)):
        entries: list = []
        if rng.random() < 0.4:
            for _e in range(rng.randint(1, 4)):
                entries.append((rng.randint(0, 40), text()))
            sections.append(("char", entries))
            continue
        for _e in range(rng.randint(1, 4)):
            lo = rng.randint(2, 40)
            r = rng.random()
            if r < 0.3:
                entries.append((lo, lo + rng.randint(-2, 6), [text() for _ in range(rng.randint(1, 6))]))
            elif r < 0.97:
                entries.append((lo, lo + rng.randint(-2, 12), text()))
            else:
                entries.append((lo, lo + 65535 + rng.randint(1, 3), rng.choice(("0041", "0066%04X" % 0x61))))
        sections.append(("range", entries))
    return sections


class TestToUnicodeRanges:
    def test_matches_expanded_table(self):
        """Random small CMaps decode as the per-code expansion does,
        through a Type0 Identity-H font and a simple Type1 font."""
        rng = random.Random(11)
        cp1252 = _base_enc_table("cp1252")
        for _ in range(300):
            sections = _random_tounicode(rng)
            want = _expanded_tounicode(sections)
            cmap = _cmap(sections, b"bf")
            codes = list(range(-1, 60)) + [
                e[0] + d for _k, es in sections for e in es
                if len(e) == 3 and e[1] - e[0] > 65535 for d in (65534, 65535, 65536)
            ]
            t0 = _parsed_font(_with_tounicode(_TYPE0_IDENTITY, cmap))
            assert [t0._text(c) for c in codes] == [want.get(c) for c in codes], sections
            show = b"".join(c.to_bytes(2, "big") for c in range(60))
            assert [t for t, _w, _c in t0.decode(show)] == [want.get(c, "�" if c else "") for c in range(60)]
            t1 = _parsed_font(_with_tounicode(_TYPE1, cmap))
            assert [t for t, _w, _c in t1.decode(bytes(range(256)))] == [
                want.get(c, cp1252[c]) for c in range(256)
            ], sections

    def test_bfrange_wins_over_later_bfchar(self):
        sections = [("range", [(0x41, 0x43, "0058")]), ("char", [(0x42, "0051")])]
        font = _parsed_font(_with_tounicode(_TYPE0_IDENTITY, _cmap(sections, b"bf")))
        assert [font._text(c) for c in (0x41, 0x42, 0x43)] == ["X", "Y", "Z"]

    def test_base_past_last_code_point_drops_the_map(self):
        sections = [("char", [(0x41, "0051")]), ("range", [(0, 20, "DBFFDFF0")])]
        assert _expanded_tounicode(sections) == {}
        font = _parsed_font(_with_tounicode(_TYPE0_IDENTITY, _cmap(sections, b"bf")))
        assert not font.tounicode.starts and font._text(0x41) is None

    def test_bomb_stays_one_interval_per_range(self):
        """200 bfranges of 65,536 codes each: a table of at most
        2·runs + 1 intervals, not 13.1M per-code entries."""
        pdf = _tounicode_bomb(200)
        doc = PdfDocument(pdf)
        font = Font(doc, doc.resolve(Ref(3, 0)))
        assert len(font.tounicode.vals) <= 2 * 200 + 1
        assert font._text(199 * 65536 + 65535) == chr(0x41 + 65535)
        assert _only_line(pdf)["text"] == "ABC"


def _cid_cmap(sections: list) -> bytes:
    return _cmap(sections, b"cid", b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n")


class TestCidCmapRanges:
    def test_overlapping_cidranges_later_entry_wins(self):
        first = ("range", [(0, 100, 1000)])
        inner = ("range", [(10, 20, 5000)])
        font = _parsed_font(_type0(_cid_cmap([first, inner]), b"", b"[]"), 8)
        assert [font._cid_for(c) for c in (5, 15, 50, 101)] == [1005, 5005, 1050, 101]
        font = _parsed_font(_type0(_cid_cmap([inner, first]), b"", b"[]"), 8)
        assert [font._cid_for(c) for c in (5, 15, 50, 101)] == [1005, 1015, 1050, 101]

    def test_matches_expanded_cid_map(self):
        """cidchar beats cidrange wherever it sits in the file, a later
        cidrange beats an earlier one, unmapped codes stay identity."""
        rng = random.Random(3)
        for _ in range(200):
            sections = []
            for _s in range(rng.randint(1, 4)):
                if rng.random() < 0.4:
                    chars = [(rng.randint(0, 40), rng.randint(0, 900)) for _ in range(rng.randint(1, 3))]
                    sections.append(("char", chars))
                else:
                    lows = [rng.randint(2, 40) for _ in range(rng.randint(1, 3))]
                    sections.append(("range", [(lo, lo + rng.randint(-2, 12), rng.randint(0, 900)) for lo in lows]))
            want: dict[int, int] = {}
            for kind, entries in sorted(sections, key=lambda sec: sec[0] == "char"):
                for e in entries:
                    for c in range(e[0], e[-2] + 1):
                        want[c] = e[-1] + c - e[0]
            font = _parsed_font(_type0(_cid_cmap(sections), b"", b"[]"), 8)
            assert [font._cid_for(c) for c in range(-1, 60)] == [want.get(c, c) for c in range(-1, 60)], sections


def _missing_width_pdf(mw: int) -> bytes:
    """One page, one simple font with no /Widths, no ToUnicode and no
    /Differences, whose descriptor sets /MissingWidth ``mw``."""
    font = [
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Plain /FontDescriptor 4 0 R >>"),
        (4, b"<< /Type /FontDescriptor /MissingWidth %d >>" % mw),
    ]
    return _build(font, b"BT /F1 10 Tf 72 700 Td (ABC) Tj ET", 5)


class TestDecodeTableMemo:
    def test_distinct_missing_widths_keep_the_memo_small(self):
        """The simple-font decode table is memoized on (codec, default
        width), and /MissingWidth sets the width: 2,000 documents with
        distinct values must not leave 2,000 tables in a reused worker.
        Every document decodes as it does with an empty memo, and its
        advance is three glyphs at its own /MissingWidth."""
        from pdf_extractor_spark.sources import pdfparse

        pdfparse._DEC_TABLE_CACHE.clear()
        for mw in range(100, 2100):
            pdf = _missing_width_pdf(mw)
            span = _only_line(pdf)
            assert span["text"] == "ABC"
            assert span["bbox"][2] - span["bbox"][0] == pytest.approx(3 * mw / 1000 * 10)
            assert len(pdfparse._DEC_TABLE_CACHE) <= 8
            if mw % 97 == 0:
                pdfparse._DEC_TABLE_CACHE.clear()
                assert _only_line(pdf) == span
