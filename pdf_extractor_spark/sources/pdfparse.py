"""Pure-Python PDF text extraction → spandoc page/line/span shape.

Closes the reference's real-input gap (extract_outline.py:19-35 uses
PyMuPDF's ``page.get_text("dict")``): this module parses raw ``%PDF``
bytes with no third-party library and emits the same pages structure
the rest of the pipeline consumes —

    [{"width": w, "blocks": [[[span, ...line spans]], ...]}, ...]
    span = {"text": str, "bbox": [x0, y0, x1, y1], "font": str,
            "size": float}

with fitz-style top-down page coordinates, so span_merge / analyzer
run unchanged downstream.

Feature set is scoped to what the reference's five fixture PDFs
(/root/reference/input/file01..05.pdf) actually use, plus the common
cases around them:
  - classic xref tables AND cross-reference streams (/Type/XRef,
    /W columns, PNG Predictor ≥10), /Prev chains, hybrid /XRefStm
  - object streams (/Type/ObjStm)
  - FlateDecode (+ASCIIHexDecode); image filters are never decoded
  - simple fonts (Type1/TrueType): /Widths, /Encoding base +
    /Differences via an Adobe-Glyph-List subset, ToUnicode CMaps
  - composite fonts (Type0 / Identity-H, CIDFontType2): 2-byte
    codes, /W + /DW widths, ToUnicode bfchar/bfrange; embedded
    non-Identity CID CMap streams (codespacerange segmentation 1-4
    byte codes, cidchar/cidrange code→CID for width lookup)
  - Type3 glyph fonts: /Differences text, FontMatrix-scaled /Widths,
    FontBBox vertical metrics (glyph programs never executed)
  - content streams: q/Q/cm, BT/ET, Tf/Td/TD/Tm/T*/TL/Tc/Tw/Tz/Ts,
    Tj/TJ/'/", inline-image skip (BI..EI), Form XObjects (Do)

This is NOT a general-purpose PDF library: passworded files,
predefined non-Identity CMaps-by-name (no external table files), and
vertical writing-mode advances degrade or parse-fail, which the caller
converts to S4 failure rows (extract_outline.py:116-124 semantics).
"""

from __future__ import annotations

import bisect
import re
import zlib
from typing import Any, Optional

# --------------------------------------------------------------------------
# Object model


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):  # pragma: no cover - debug only
        return f"{self.num} {self.gen} R"


class Name(str):
    """PDF name object; subclass of str so dict keys compare naturally."""


class Stream:
    __slots__ = ("dict", "raw", "_data", "_doc", "num", "gen")

    def __init__(self, d: dict, raw: bytes, doc: "PdfDocument"):
        self.dict = d
        self.raw = raw
        self._data: Optional[bytes] = None
        self._doc = doc
        # owning indirect object id, set by _parse_indirect_at — needed
        # for the per-object decryption key of encrypted documents
        self.num: Optional[int] = None
        self.gen: int = 0

    def data(self) -> bytes:
        if self._data is None:
            raw = self.raw
            doc = self._doc
            dec = getattr(doc, "_decryptor", None) if doc is not None else None
            if dec is not None and self.num is not None:
                stype = doc.resolve(self.dict.get("Type"))
                # XRef streams are never encrypted (spec 7.5.8.2); when
                # EncryptMetadata=false the /Metadata stream is stored in
                # the clear too and must not be run through the decryptor
                skip = stype == "XRef" or (
                    stype == "Metadata" and not getattr(dec, "encrypt_metadata", True)
                )
                if not skip:
                    raw = dec.decrypt(raw, self.num, self.gen, "stm")
            self._data = _decode_stream(self.dict, raw, doc)
        return self._data


# ISO 32000-1 §7.3.3: an optional sign, then digits with at most one
# leading, embedded or trailing period. There is no exponent form.
_NUMBER_RX = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
# ISO 32000-1 Annex C: the largest magnitude of a real
_REAL_MAX = 3.403e38


def _real(v: Any) -> float:
    """A number object as a float clamped to ±_REAL_MAX. Anything else
    raises TypeError, which drops the operator or entry it fed.

    Integers are unbounded, so float() alone overflows on a long one,
    and a long real lexes to ±inf. Every value that feeds a span's
    size or position goes through here, so those stay finite."""
    if isinstance(v, (int, float)):
        if -_REAL_MAX <= v <= _REAL_MAX:
            return float(v)
        if v > 0:
            return _REAL_MAX
        if v < 0:
            return -_REAL_MAX
    raise TypeError(f"not a PDF number: {v!r}")


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR_END = _WS + _DELIM
# "<gen> R" lookahead for indirect references — compiled once and
# matched with a position argument (no per-number bytes slice)
_REF_RX = re.compile(rb"(\d+)\s+R(?![A-Za-z0-9])")


class Lexer:
    """Tokenizer + recursive-descent parser for PDF object syntax."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _skip_ws(self) -> None:
        buf, n = self.buf, len(self.buf)
        while self.pos < n:
            c = buf[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment
                e = buf.find(b"\n", self.pos)
                e2 = buf.find(b"\r", self.pos)
                if e < 0 or (0 <= e2 < e):
                    e = e2
                self.pos = n if e < 0 else e + 1
            else:
                return

    def _read_regular(self) -> bytes:
        start = self.pos
        buf, n = self.buf, len(self.buf)
        while self.pos < n and buf[self.pos] not in _REGULAR_END:
            self.pos += 1
        return buf[start : self.pos]

    def read_name(self) -> Name:
        # caller consumed '/'
        tok = self._read_regular()
        if b"#" in tok:
            out = bytearray()
            i = 0
            while i < len(tok):
                if tok[i : i + 1] == b"#" and i + 2 < len(tok) + 1:
                    try:
                        out.append(int(tok[i + 1 : i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(tok[i])
                i += 1
            tok = bytes(out)
        return Name(tok.decode("latin-1"))

    def read_literal_string(self) -> bytes:
        # caller consumed '('
        buf, n = self.buf, len(self.buf)
        out = bytearray()
        depth = 1
        i = self.pos
        while i < n:
            c = buf[i]
            if c == 0x5C:  # backslash
                i += 1
                if i >= n:
                    break
                e = buf[i]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    i += 1
                elif e in b"()\\":
                    out.append(e)
                    i += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = 0
                    k = 0
                    while k < 3 and i < n and 0x30 <= buf[i] <= 0x37:
                        val = val * 8 + (buf[i] - 0x30)
                        i += 1
                        k += 1
                    out.append(val & 0xFF)
                elif e == 0x0D:  # line continuation
                    i += 1
                    if i < n and buf[i] == 0x0A:
                        i += 1
                elif e == 0x0A:
                    i += 1
                else:
                    out.append(e)
                    i += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return bytes(out)

    def read_hex_string(self) -> bytes:
        # caller consumed '<'
        e = self.buf.find(b">", self.pos)
        if e < 0:
            e = len(self.buf)
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", self.buf[self.pos : e])
        self.pos = e + 1
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))

    def read_object(self, doc: Optional["PdfDocument"] = None) -> Any:
        self._skip_ws()
        buf, n = self.buf, len(self.buf)
        if self.pos >= n:
            raise PdfError("unexpected EOF")
        c = buf[self.pos]
        if c == 0x2F:  # /
            self.pos += 1
            return self.read_name()
        if c == 0x28:  # (
            self.pos += 1
            return self.read_literal_string()
        if c == 0x3C:  # < or <<
            if buf[self.pos : self.pos + 2] == b"<<":
                self.pos += 2
                return self._read_dict_body(doc)
            self.pos += 1
            return self.read_hex_string()
        if c == 0x5B:  # [
            self.pos += 1
            arr = []
            while True:
                self._skip_ws()
                if self.pos >= n:
                    break
                if buf[self.pos] == 0x5D:
                    self.pos += 1
                    break
                arr.append(self.read_object(doc))
            return arr
        tok = self._read_regular()
        if not tok:
            # lone delimiter we don't handle (e.g. stray ')' or '>')
            self.pos += 1
            return None
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        # number — possibly "num gen R" reference
        if not _NUMBER_RX.fullmatch(tok):
            return Name(tok.decode("latin-1", "replace"))
        if b"." in tok:
            return float(tok)
        try:
            num = int(tok)
        except ValueError:  # more digits than int() converts
            return Name(tok.decode("latin-1", "replace"))
        save = self.pos
        self._skip_ws()
        m = _REF_RX.match(buf, self.pos)
        if m and num >= 0:
            # confirm the middle token really was a generation number
            self.pos = m.end()
            return Ref(num, int(m.group(1)))
        self.pos = save
        return num

    def _read_dict_body(self, doc: Optional["PdfDocument"]) -> Any:
        d: dict = {}
        buf, n = self.buf, len(self.buf)
        while True:
            self._skip_ws()
            if self.pos >= n:
                break
            if buf[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            if buf[self.pos] != 0x2F:
                # malformed key — bail out of the dict
                self.read_object(doc)
                continue
            self.pos += 1
            key = self.read_name()
            d[key] = self.read_object(doc)
        # stream?
        save = self.pos
        self._skip_ws()
        if buf[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            if buf[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < n and buf[self.pos] in b"\r\n":
                self.pos += 1
            length = d.get("Length")
            if doc is not None and isinstance(length, Ref):
                length = doc.resolve(length)
            if not isinstance(length, int):
                length = None
            start = self.pos
            if length is not None and start + length <= n:
                end = start + length
                # sanity: endstream should follow (allow slack)
                if buf.find(b"endstream", end, end + 32) < 0 and buf.find(
                    b"endstream", start
                ) >= 0:
                    end = buf.find(b"endstream", start)
                    while end > start and buf[end - 1] in b"\r\n":
                        end -= 1
            else:
                end = buf.find(b"endstream", start)
                if end < 0:
                    end = n
                while end > start and buf[end - 1] in b"\r\n":
                    end -= 1
            raw = buf[start:end]
            es = buf.find(b"endstream", end)
            self.pos = (es + 9) if es >= 0 else end
            return Stream(d, raw, doc)  # type: ignore[arg-type]
        self.pos = save
        return d


class PdfError(Exception):
    pass


# --------------------------------------------------------------------------
# Stream filters


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))
        i += 1 + rowlen
        if ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        out.extend(row)
        prev = row
    return bytes(out)


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    pred = parms.get("Predictor", 1)
    if not isinstance(pred, int) or pred <= 1:
        return data
    columns = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if pred >= 10:
        return _png_unpredict(data, columns, colors, bpc)
    if pred == 2:  # TIFF predictor, 8-bit only
        if bpc != 8:
            raise PdfError("TIFF predictor with bpc != 8")
        row = columns * colors
        out = bytearray(data)
        for r in range(0, len(out) - row + 1, row):
            for j in range(colors, row):
                out[r + j] = (out[r + j] + out[r + j - colors]) & 0xFF
        return bytes(out)
    raise PdfError(f"unsupported predictor {pred}")


_IMAGE_FILTERS = {"DCTDecode", "DCT", "JPXDecode", "JBIG2Decode", "CCITTFaxDecode", "CCF"}

# Predefined CMaps-by-name whose source codes are Unicode code units by
# definition (ISO 32000-1 §9.7.5.2 table 118 plus Adobe's cmap-resources
# releases: the Uni<collection>-UCS2/UTF16 families for Adobe-Japan1/
# GB1/CNS1/Korea1/KR) — text decodes structurally, no external table
# needed. JIS2004/JISX0213 variants are spelled UniJIS2004 / UniJISX0213
# / UniJISX02132004; the -HW (half-width-substitution) variants differ
# only in glyph WIDTHS, the code→Unicode structure is identical.
_PREDEF_UNICODE_CMAP = re.compile(
    r"^Uni(?:JIS(?:2004|X0213(?:2004)?)?|GB|CNS|KS|AKR)"
    r"-(?:UCS2|UTF16)(?:-HW)?-[HV]$"
)


def _decode_stream(d: dict, raw: bytes, doc: Optional["PdfDocument"]) -> bytes:
    filters = d.get("Filter")
    if doc is not None:
        filters = doc.resolve(filters)
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = d.get("DecodeParms", d.get("DP"))
    if doc is not None:
        parms = doc.resolve(parms)
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms):
        if doc is not None:
            f, p = doc.resolve(f), doc.resolve(p)
        p = p if isinstance(p, dict) else {}
        if f in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                # salvage: raw deflate or trailing garbage
                try:
                    data = zlib.decompressobj().decompress(data)
                except zlib.error:
                    data = zlib.decompressobj(-15).decompress(data)
        elif f in ("ASCIIHexDecode", "AHx"):
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif f in ("ASCII85Decode", "A85"):
            import base64

            body = data.split(b"~>")[0]
            body = re.sub(rb"\s", b"", body)
            if body.startswith(b"<~"):
                body = body[2:]
            data = base64.a85decode(body)
        elif f in ("LZWDecode", "LZW"):
            data = _lzw_decode(data, early=int(p.get("EarlyChange", 1) or 0))
        elif f in ("RunLengthDecode", "RL"):
            # ISO 32000-1 §7.4.5: length byte L<128 -> copy L+1 literal
            # bytes; L>128 -> repeat next byte 257-L times; 128 -> EOD
            out = bytearray()
            i = 0
            while i < len(data):
                ln = data[i]
                if ln == 128:
                    break
                if ln < 128:
                    if i + 1 + ln >= len(data):
                        raise PdfError("truncated RunLengthDecode stream")
                    out += data[i + 1 : i + 2 + ln]
                    i += 2 + ln
                else:
                    if i + 1 >= len(data):
                        raise PdfError("truncated RunLengthDecode stream")
                    out += data[i + 1 : i + 2] * (257 - ln)
                    i += 2
            data = bytes(out)
        elif f in _IMAGE_FILTERS:
            # image payload — never needed for text; return raw
            return data
        else:
            raise PdfError(f"unsupported filter {f}")
        data = _apply_predictor(data, p)
    return data


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF/TIFF LZW: 9→12-bit variable-width codes, clear=256, EOD=257.
    ``early`` (EarlyChange, default 1) bumps the code width one entry
    before the table actually fills — the spec default every real
    writer uses (pre-1995 PDFs: Acrobat 1.x wrote LZW before Flate)."""
    result = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: Optional[bytes] = None
    width = 9
    bitbuf = bitcnt = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(result)
            if prev is None:
                if code >= len(table):
                    raise PdfError("bad LZW start code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise PdfError("bad LZW code")
            result += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(result)


# --------------------------------------------------------------------------
# Document: xref chain + object store


class PdfDocument:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.xref: dict[int, tuple] = {}  # num -> ("n", offset) | ("o", objstm_num, idx)
        self.trailer: dict = {}
        self._cache: dict[int, Any] = {}
        self._objstm_cache: dict[int, dict[int, Any]] = {}
        self._decryptor = None
        self._encrypt_error: Optional[str] = None
        self._encrypt_num: Optional[int] = None
        self._load_xref()
        if not self.xref:
            self._scan_all_objects()
        if "Encrypt" in self.trailer:
            self._init_encryption()

    def _init_encryption(self) -> None:
        """Standard security handler with an EMPTY user password —
        the transparent-open behavior of the reference's parser
        (PyMuPDF opens permissions-only RC4/AES files without asking;
        extract_outline.py:19). Genuinely passworded or exotic schemes
        record an error that pages() raises → S4 failure row."""
        from .pdfcrypt import PdfCryptError, StandardSecurityHandler

        enc_ref = self.trailer.get("Encrypt")
        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num
        enc = self.resolve(enc_ref)
        ids = self.resolve(self.trailer.get("ID"))
        id0 = b""
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
            id0 = ids[0]
        if not isinstance(enc, dict):
            self._encrypt_error = "malformed Encrypt dictionary"
            return
        try:
            self._decryptor = StandardSecurityHandler(enc, id0)
        except PdfCryptError as e:
            self._encrypt_error = str(e)

    def _decrypt_strings(self, obj: Any, num: int, gen: int) -> Any:
        """Strings inside encrypted indirect objects are themselves
        encrypted (streams are handled separately in Stream.data;
        ObjStm contents are NOT re-encrypted per spec)."""
        dec = self._decryptor

        def walk(o: Any) -> Any:
            if isinstance(o, bytes):
                return dec.decrypt(o, num, gen, "str")
            if isinstance(o, list):
                return [walk(x) for x in o]
            if isinstance(o, Stream):
                o.dict = walk(o.dict)
                return o
            if isinstance(o, dict):
                return {k: walk(v) for k, v in o.items()}
            return o

        return walk(obj)

    # -- xref ------------------------------------------------------------
    def _load_xref(self) -> None:
        tail = self.buf[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            return
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen and 0 <= offset < len(self.buf):
            seen.add(offset)
            offset = self._load_xref_section(offset)

    def _load_xref_section(self, offset: int) -> int:
        lex = Lexer(self.buf, offset)
        lex._skip_ws()
        if self.buf[lex.pos : lex.pos + 4] == b"xref":
            return self._load_xref_table(lex.pos + 4)
        # xref stream: "num gen obj <<...>> stream"
        try:
            obj = self._parse_indirect_at(offset)
        except PdfError:
            return 0
        if not isinstance(obj, Stream):
            return 0
        self._load_xref_stream(obj)
        prev = obj.dict.get("Prev")
        return prev if isinstance(prev, int) else 0

    def _load_xref_table(self, pos: int) -> int:
        lex = Lexer(self.buf, pos)
        while True:
            lex._skip_ws()
            if self.buf[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                tdict = lex.read_object(self)
                if isinstance(tdict, dict):
                    for k, v in tdict.items():
                        self.trailer.setdefault(k, v)
                    xstm = tdict.get("XRefStm")
                    if isinstance(xstm, int):
                        try:
                            stm = self._parse_indirect_at(xstm)
                            if isinstance(stm, Stream):
                                self._load_xref_stream(stm)
                        except PdfError:
                            pass
                    prev = tdict.get("Prev")
                    return prev if isinstance(prev, int) else 0
                return 0
            m = re.match(rb"(\d+)\s+(\d+)", self.buf[lex.pos : lex.pos + 40])
            if not m:
                return 0
            start, count = int(m.group(1)), int(m.group(2))
            lex.pos += m.end()
            lex._skip_ws()
            for i in range(count):
                ent = self.buf[lex.pos : lex.pos + 20]
                em = re.match(rb"(\d{10})\s(\d{5})\s([nf])", ent)
                if not em:
                    em = re.match(rb"\s*(\d+)\s+(\d+)\s+([nf])", ent)
                    if not em:
                        return 0
                num = start + i
                if em.group(3) == b"n" and num not in self.xref:
                    self.xref[num] = ("n", int(em.group(1)))
                # advance: strict entries are exactly 20 bytes
                lex.pos += 20 if len(em.group(0)) >= 18 else em.end()

    def _load_xref_stream(self, stm: Stream) -> None:
        d = stm.dict
        w = self.resolve(d.get("W", [1, 1, 1]))
        w = [self.resolve(x) for x in w] if isinstance(w, list) else None
        size = self.resolve(d.get("Size", 0))
        if not isinstance(size, int):
            size = 0
        index = self.resolve(d.get("Index")) or [0, size]
        # corrupt W/Index (non-numeric entries after a byte flip) make
        # the decode arithmetic meaningless: treat the stream as
        # unusable instead of raising TypeError through the whole doc —
        # the object-scan recovery path still applies
        if (
            w is None
            or not all(isinstance(x, int) and x >= 0 for x in w)
            or not isinstance(index, list)
            or not all(isinstance(v, int) for v in index)
        ):
            return
        data = stm.data()
        for k, v in d.items():
            if k not in ("Prev",):
                self.trailer.setdefault(k, v)
        rw = sum(w)
        pos = 0
        for s in range(0, len(index) - 1, 2):
            start, count = index[s], index[s + 1]
            for i in range(count):
                if pos + rw > len(data):
                    return
                fields = []
                for width in w:
                    val = 0
                    for _ in range(width):
                        val = (val << 8) | data[pos]
                        pos += 1
                    fields.append(val)
                ftype = fields[0] if w[0] else 1
                num = start + i
                if num in self.xref:
                    continue
                if ftype == 1:
                    self.xref[num] = ("n", fields[1])
                elif ftype == 2:
                    self.xref[num] = ("o", fields[1], fields[2])

    def _scan_all_objects(self) -> None:
        """Last-resort recovery: regex every 'N G obj' in the file."""
        for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", self.buf):
            self.xref.setdefault(int(m.group(1)), ("n", m.start()))
        tm = self.buf.rfind(b"trailer")
        if tm >= 0:
            lex = Lexer(self.buf, tm + 7)
            try:
                t = lex.read_object(self)
                if isinstance(t, dict):
                    for k, v in t.items():
                        self.trailer.setdefault(k, v)
            except PdfError:
                pass

    # -- objects ---------------------------------------------------------
    def _parse_indirect_at(self, offset: int) -> Any:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", self.buf[offset : offset + 64])
        if not m:
            raise PdfError(f"no obj at {offset}")
        num, gen = int(m.group(1)), int(m.group(2))
        lex = Lexer(self.buf, offset + m.end())
        obj = lex.read_object(self)
        if isinstance(obj, Stream):
            obj.num, obj.gen = num, gen
        if self._decryptor is not None and num != self._encrypt_num:
            obj = self._decrypt_strings(obj, num, gen)
        return obj

    def get_object(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        obj = None
        if ent is None:
            obj = None
        elif ent[0] == "n":
            try:
                obj = self._parse_indirect_at(ent[1])
            except PdfError:
                obj = None
        else:  # object stream
            obj = self._objstm_object(ent[1], num)
        self._cache[num] = obj
        return obj

    def _objstm_object(self, stm_num: int, want: int) -> Any:
        tbl = self._objstm_cache.get(stm_num)
        if tbl is None:
            tbl = {}
            stm = self.get_object(stm_num)
            if isinstance(stm, Stream):
                data = stm.data()
                n = self.resolve(stm.dict.get("N", 0))
                first = self.resolve(stm.dict.get("First", 0))
                # corrupt /N or /First: clamp/zero instead of letting the
                # header loop or offset addition raise TypeError (each
                # header pair needs bytes, so len(data) bounds any sane N)
                n = min(n, len(data)) if isinstance(n, int) else 0
                if not isinstance(first, int):
                    first = 0
                hdr = Lexer(data, 0)
                pairs = []
                try:
                    for _ in range(n):
                        onum = hdr.read_object(self)
                        ooff = hdr.read_object(self)
                        pairs.append((onum, ooff))
                except PdfError:
                    pass
                for onum, ooff in pairs:
                    if not isinstance(onum, int) or not isinstance(ooff, int):
                        continue  # corrupt header pair
                    try:
                        tbl[onum] = Lexer(data, first + ooff).read_object(self)
                    except (PdfError, IndexError):
                        tbl[onum] = None
            self._objstm_cache[stm_num] = tbl
        return tbl.get(want)

    def resolve(self, obj: Any) -> Any:
        depth = 0  # bounds a chain of references to references
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    # -- page tree -------------------------------------------------------
    def pages(self) -> list[dict]:
        if self._encrypt_error:
            # passworded / unsupported scheme — S4 failure row, same
            # outcome as PyMuPDF's needs_pass for a non-empty password
            raise PdfError(self._encrypt_error)
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("no document catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        if isinstance(tree, dict):
            self._walk_pages(tree, {}, out, set())
        return out

    _INHERIT = ("Resources", "MediaBox", "CropBox", "Rotate")

    def _walk_pages(self, node: dict, inherited: dict, out: list, seen: set) -> None:
        nid = id(node)
        if nid in seen or len(out) > 10000:
            return
        seen.add(nid)
        inh = dict(inherited)
        for k in self._INHERIT:
            if k in node:
                inh[k] = node[k]
        ntype = node.get("Type")
        kids = self.resolve(node.get("Kids"))
        if ntype == "Page" or (kids is None and "Contents" in node):
            page = dict(node)
            for k, v in inh.items():
                page.setdefault(k, v)
            out.append(page)
            return
        if isinstance(kids, list):
            for kid in kids:
                kid = self.resolve(kid)
                if isinstance(kid, dict):
                    self._walk_pages(kid, inh, out, seen)


# --------------------------------------------------------------------------
# Fonts

# Adobe Glyph List subset: the names that show up in /Differences arrays
# of office-suite and TeX-produced PDFs (public AGL, Adobe).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "guillemotleft": "«",
    "guillemotright": "»", "fi": "ﬁ", "fl": "ﬂ",
    "ff": "ﬀ", "ffi": "ﬃ", "ffl": "ﬄ",
    "florin": "ƒ", "fraction": "⁄", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "minus": "−", "periodcentered": "·", "middot": "·",
    "nbspace": " ", "exclamdown": "¡", "cent": "¢",
    "sterling": "£", "currency": "¤", "yen": "¥",
    "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "ordfeminine": "ª", "logicalnot": "¬", "macron": "¯",
    "paragraph": "¶", "cedilla": "¸", "ordmasculine": "º",
    "onequarter": "¼", "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "Euro": "€",
    "circumflex": "ˆ", "caron": "ˇ", "tilde": "˜",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "ogonek": "˛", "hungarumlaut": "˝", "acute": "´",
    "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł",
    "OE": "Œ", "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Ydieresis": "Ÿ", "Zcaron": "Ž", "zcaron": "ž",
}
# single-letter and accented-letter names map via unicodedata-free rules:
for _c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _AGL[_c] = _c
for _base, _ch in [
    ("Aacute", "Á"), ("aacute", "á"), ("Agrave", "À"),
    ("agrave", "à"), ("Acircumflex", "Â"), ("acircumflex", "â"),
    ("Adieresis", "Ä"), ("adieresis", "ä"), ("Atilde", "Ã"),
    ("atilde", "ã"), ("Aring", "Å"), ("aring", "å"),
    ("AE", "Æ"), ("ae", "æ"), ("Ccedilla", "Ç"),
    ("ccedilla", "ç"), ("Eacute", "É"), ("eacute", "é"),
    ("Egrave", "È"), ("egrave", "è"), ("Ecircumflex", "Ê"),
    ("ecircumflex", "ê"), ("Edieresis", "Ë"), ("edieresis", "ë"),
    ("Iacute", "Í"), ("iacute", "í"), ("Igrave", "Ì"),
    ("igrave", "ì"), ("Icircumflex", "Î"), ("icircumflex", "î"),
    ("Idieresis", "Ï"), ("idieresis", "ï"), ("Ntilde", "Ñ"),
    ("ntilde", "ñ"), ("Oacute", "Ó"), ("oacute", "ó"),
    ("Ograve", "Ò"), ("ograve", "ò"), ("Ocircumflex", "Ô"),
    ("ocircumflex", "ô"), ("Odieresis", "Ö"), ("odieresis", "ö"),
    ("Otilde", "Õ"), ("otilde", "õ"), ("Oslash", "Ø"),
    ("oslash", "ø"), ("Uacute", "Ú"), ("uacute", "ú"),
    ("Ugrave", "Ù"), ("ugrave", "ù"), ("Ucircumflex", "Û"),
    ("ucircumflex", "û"), ("Udieresis", "Ü"), ("udieresis", "ü"),
    ("Yacute", "Ý"), ("yacute", "ý"), ("ydieresis", "ÿ"),
    ("Thorn", "Þ"), ("thorn", "þ"), ("Eth", "Ð"),
    ("eth", "ð"), ("germandbls", "ß"), ("sharps", "ß"),
]:
    _AGL[_base] = _ch


def _glyph_to_unicode(name: str) -> str:
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return "".join(
                chr(int(name[i : i + 4], 16)) for i in range(3, len(name) - 3 + 1, 4)
            )
        except ValueError:
            pass
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            pass
    m = re.match(r"(?:g|cid|G)(\d+)$", name)
    if m:
        return ""  # glyph-id name with no unicode meaning
    return ""


def _hex2str(h: bytes) -> str:
    """ToUnicode hex string → text: UTF-16BE, a lone odd byte padded
    with a leading zero, latin-1 where UTF-16 does not decode."""
    b = bytes.fromhex(h.decode("ascii"))
    if len(b) % 2:
        b = b"\x00" + b
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("latin-1", "replace")


def _text_run(lo: int, hi: int, h: bytes) -> tuple[int, int, tuple[str, int]]:
    """`_RangeMap` run for codes lo..hi whose text starts at the text of
    hex string ``h`` and counts up in its last character: the value
    ``(prefix, delta)`` gives code c the text ``prefix + chr(c + delta)``.
    Raises ValueError where that would pass U+10FFFF."""
    s = _hex2str(h)
    delta = ord(s[-1]) - lo
    if lo <= hi and hi + delta > 0x10FFFF:
        raise ValueError("bfrange passes U+10FFFF")
    return lo, hi, (s[:-1], delta)


def _parse_tounicode(data: bytes) -> list[tuple[int, int, tuple[str, int]]]:
    """bfchar/bfrange sections of a ToUnicode CMap → `_text_run` runs in
    the order they take effect: every bfchar, then every bfrange, each
    in file order. A scalar bfrange covers at most 65,536 codes; the
    array form maps lo + i only while lo + i <= hi."""
    runs = []
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for cm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            code = int(cm.group(1), 16)
            runs.append(_text_run(code, code, cm.group(2)))
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        for cm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)", m.group(1)
        ):
            lo, hi, dst = int(cm.group(1), 16), int(cm.group(2), 16), cm.group(3)
            if dst.startswith(b"<"):
                runs.append(_text_run(lo, min(hi, lo + 65535), dst[1:-1]))
                continue
            for i, v in enumerate(re.findall(rb"<([0-9A-Fa-f]+)>", dst)):
                if lo + i > hi:
                    break
                runs.append(_text_run(lo + i, lo + i, v))
    return runs


def _parse_cid_cmap(
    data: bytes,
) -> tuple[list[tuple[int, bytes, bytes]], list[tuple[int, int, int]]]:
    """Embedded CID CMap stream (ISO 32000-1 §9.7.5.3) → (codespace,
    code→CID runs).

    codespace: [(nbytes, lo_bytes, hi_bytes)] sorted by nbytes — the
    byte-length buckets that segment a show-string into codes. Range
    membership is BYTE-WISE per §9.7.6.2 (each byte of the code must
    lie within the corresponding byte of lo/hi — <8140><FEFE> excludes
    0x81FF because 0xFF > 0xFE in the second byte), which is why the
    bounds stay as bytes. runs: `_RangeMap` runs ``(lo, hi, CID - code)``,
    every cidrange then every cidchar, each in file order, so a cidchar
    wins over a cidrange and a later cidrange over an earlier one.
    usecmap chains are not followed (they reference predefined CMaps we
    don't ship); the caller treats unmapped codes as identity."""
    codespace: list[tuple[int, bytes, bytes]] = []
    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange", data, re.S):
        for cm in re.finditer(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            lo_h, hi_h = cm.group(1), cm.group(2)
            nbytes = (len(lo_h) + 1) // 2
            lo = int(lo_h, 16).to_bytes(nbytes, "big")
            hi = int(hi_h, 16).to_bytes(max(nbytes, (len(hi_h) + 1) // 2), "big")
            if len(hi) != nbytes:
                continue  # malformed: lo/hi of different byte lengths
            codespace.append((nbytes, lo, hi))
    codespace.sort()
    runs: list[tuple[int, int, int]] = []
    for m in re.finditer(rb"begincidrange(.*?)endcidrange", data, re.S):
        for cm in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)
        ):
            lo = int(cm.group(1), 16)
            runs.append((lo, int(cm.group(2), 16), int(cm.group(3)) - lo))
    for m in re.finditer(rb"begincidchar(.*?)endcidchar", data, re.S):
        for cm in re.finditer(rb"<([0-9A-Fa-f]+)>\s+(\d+)", m.group(1)):
            code = int(cm.group(1), 16)
            runs.append((code, code, int(cm.group(2)) - code))
    return codespace, runs


_BASE_ENC_CACHE: dict[str, dict[int, str]] = {}
# (codec, default width) → decode table. Each document's /MissingWidth
# sets the width, so a reused worker would keep one table per distinct
# value it ever saw: the memo keeps the latest few keys only.
_DEC_TABLE_CACHE: dict[tuple, list] = {}
_DEC_TABLE_CACHE_MAX = 8


def _base_enc_table(codec: str) -> dict[int, str]:
    """code→unicode table for a base encoding, memoized module-wide:
    the same cp1252 table was being rebuilt (256 codec round-trips)
    for every font of every document — a measured 17% of parse time."""
    t = _BASE_ENC_CACHE.get(codec)
    if t is None:
        t = {}
        for code in range(256):
            try:
                t[code] = bytes([code]).decode(codec)
            except UnicodeDecodeError:
                t[code] = ""
        _BASE_ENC_CACHE[codec] = t
    return t


class _RangeMap:
    """Code-range map: runs ``(lo, hi, value)`` in the order they take
    effect → ``m[c]`` is the value of the last run covering c, else
    ``default``. /W, the embedded CID CMap and ToUnicode all declare
    ranges, and this is the one table for them: it grows with the
    number of runs, not with the codes a range covers (``/W [0
    100000000 500]`` is one interval, not 10^8 dict slots).

    Runs are painted latest first onto the elementary intervals between
    their boundaries; ``nxt`` (union-find) skips the intervals already
    painted, so each is painted once. A run value is never None."""

    __slots__ = ("starts", "vals")

    def __init__(self, runs: list[tuple[int, int, Any]], default: Any = None):
        starts = sorted({b for lo, hi, _ in runs for b in (lo, hi + 1)})
        vals: list = [None] * len(starts)
        nxt = list(range(len(starts)))

        def unpainted(k: int) -> int:
            while nxt[k] != k:
                nxt[k] = nxt[nxt[k]]
                k = nxt[k]
            return k

        for lo, hi, v in reversed(runs):
            end = bisect.bisect_left(starts, hi + 1)
            k = unpainted(bisect.bisect_left(starts, lo))
            while k < end:
                vals[k] = v
                nxt[k] = k + 1
                k = unpainted(k + 1)
        self.starts = starts
        self.vals = [default] + [default if v is None else v for v in vals]

    def __getitem__(self, code: int) -> Any:
        return self.vals[bisect.bisect_right(self.starts, code)]


class Font:
    """Unified simple/composite font: decode(bytes) -> [(unicode, width_1000, code)]."""

    def __init__(self, doc: PdfDocument, fdict: dict):
        self.doc = doc
        self.d = fdict
        self.subtype = doc.resolve(fdict.get("Subtype"))
        base = doc.resolve(fdict.get("BaseFont")) or "Unknown"
        # fitz strips the 6-char subset prefix "ABCDEF+"
        name = str(base)
        if re.match(r"^[A-Z]{6}\+", name):
            name = name[7:]
        self.name = name
        self.two_byte = False
        self.tounicode = _RangeMap([])
        tu = doc.resolve(fdict.get("ToUnicode"))
        if isinstance(tu, Stream):
            try:
                self.tounicode = _RangeMap(_parse_tounicode(tu.data()))
            except Exception:
                pass  # malformed ToUnicode → no text map
        self.default_width = 500.0
        self.widths: dict[int, float] = {}
        self._dec_table: list | None = None
        self.ascent = 0.8
        self.descent = -0.2
        # Type0 code→CID as CID - code (embedded CMap streams); 0 = Identity
        self._cid_delta = _RangeMap([], 0)
        # codespace byte-lengths present in the encoding CMap, ascending;
        # None = fixed 2-byte (Identity-H/V and predefined CMaps)
        self._code_lens: list[tuple[int, bytes, bytes]] | None = None
        # predefined Uni*-(UCS2|UTF16)-[HV] CMap-by-name: codes ARE
        # Unicode code units by the CMap's public definition, so text
        # decodes without any table (see _init_type0)
        self._unicode_codes = False
        if self.subtype == "Type0":
            self._init_type0()
        elif self.subtype == "Type3":
            self._init_type3()
        else:
            self._init_simple()

    def _init_descriptor(self, desc: Any) -> None:
        desc = self.doc.resolve(desc)
        if isinstance(desc, dict):
            a = self.doc.resolve(desc.get("Ascent"))
            de = self.doc.resolve(desc.get("Descent"))
            mw = self.doc.resolve(desc.get("MissingWidth"))
            if isinstance(a, (int, float)) and a:
                self.ascent = _real(a) / 1000.0
            if isinstance(de, (int, float)) and de:
                self.descent = _real(de) / 1000.0
            if isinstance(mw, (int, float)):
                self.default_width = _real(mw)

    def _init_simple(self) -> None:
        doc = self.doc
        self._init_descriptor(self.d.get("FontDescriptor"))
        fc = doc.resolve(self.d.get("FirstChar"))
        ws = doc.resolve(self.d.get("Widths"))
        if isinstance(fc, int) and isinstance(ws, list):
            for i, w in enumerate(ws):
                w = doc.resolve(w)
                if isinstance(w, (int, float)):
                    self.widths[fc + i] = _real(w)
        # encoding map code -> unicode
        self.enc: dict[int, str] = {}
        enc = doc.resolve(self.d.get("Encoding"))
        base_codec = "cp1252"
        diffs = None
        if isinstance(enc, Name) or isinstance(enc, str):
            base_codec = self._codec_for(str(enc))
        elif isinstance(enc, dict):
            be = doc.resolve(enc.get("BaseEncoding"))
            if be:
                base_codec = self._codec_for(str(be))
            diffs = doc.resolve(enc.get("Differences"))
        self.enc.update(_base_enc_table(base_codec))
        self._base_codec = base_codec
        self._enc_diffs = isinstance(diffs, list)
        if isinstance(diffs, list):
            cur = 0
            for item in diffs:
                item = doc.resolve(item)
                if isinstance(item, (int, float)):
                    cur = int(item)
                elif isinstance(item, (Name, str)):
                    u = _glyph_to_unicode(str(item))
                    if u:
                        self.enc[cur] = u
                    cur += 1

    def _init_type3(self) -> None:
        """Type3 glyph-program fonts (ISO 32000-1 §9.6.5). Text comes
        from /Encoding /Differences + ToUnicode exactly like a simple
        font, but /Widths are in GLYPH space: the advance in text space
        is width·FontMatrix[0] (· fs), not width/1000. Scale the width
        table to the 1000-unit convention decode() promises so span
        x-extents match construction truth. Glyph programs themselves
        (/CharProcs) never need executing for text extraction. fitz
        parity: MuPDF names Type3 fonts from /Name, else 'Unnamed-T3'
        (pdf-type3.c), and takes vertical metrics from the FontMatrix-
        transformed /FontBBox."""
        doc = self.doc
        self._init_simple()
        nm = doc.resolve(self.d.get("Name"))
        self.name = str(nm) if isinstance(nm, (Name, str)) and str(nm) else "Unnamed-T3"
        fm = doc.resolve(self.d.get("FontMatrix"))
        try:
            m = [_real(doc.resolve(v)) for v in fm]
            if len(m) != 6:
                raise ValueError
        except (TypeError, ValueError):
            m = [0.001, 0.0, 0.0, 0.001, 0.0, 0.0]
        sx = m[0] * 1000.0
        if sx and abs(sx - 1.0) > 1e-9:
            self.widths = {c: w * sx for c, w in self.widths.items()}
            self.default_width *= sx
        bbox = doc.resolve(self.d.get("FontBBox"))
        try:
            b = [_real(doc.resolve(v)) for v in bbox]
            y0, y1 = b[1] * m[3], b[3] * m[3]
            if y1 > y0:  # degenerate/zero bbox: keep simple-font defaults
                self.ascent = y1 if y1 > 0 else self.ascent
                self.descent = y0 if y0 < 0 else 0.0
        except (TypeError, ValueError, IndexError):
            pass

    @staticmethod
    def _codec_for(enc_name: str) -> str:
        if "WinAnsi" in enc_name:
            return "cp1252"
        if "MacRoman" in enc_name:
            return "mac_roman"
        return "cp1252"  # StandardEncoding ≈ latin for the common range

    def _init_type0(self) -> None:
        doc = self.doc
        self.two_byte = True  # Identity-H / UCS2 CMaps: 2-byte codes
        # /Encoding: Identity-H/V → code == CID, 2-byte. An EMBEDDED
        # CMap stream defines its own codespace (1-4 byte codes, byte-
        # length buckets) and code→CID ranges — parse it so both the
        # glyph segmentation and the CID width lookup are right
        # (ISO 32000-1 §9.7.5.3). Predefined non-Identity CMaps by
        # name come in two kinds:
        #   - the Unicode family (UniJIS-UCS2-H, UniGB-UTF16-V, …):
        #     their DEFINING structure — public in ISO 32000-1 §9.7.5.2
        #     table 118 and Adobe's CMap resource docs — is that source
        #     codes ARE UCS-2 / UTF-16BE code units of the target
        #     character collection. Text therefore decodes with NO
        #     table (handled below); only the code→CID table (needed
        #     just for per-glyph W widths) is external data we don't
        #     ship, so metrics for those fonts fall back to /DW unless
        #     a ToUnicode-less writer also relies on W (rare: real CJK
        #     PDFs overwhelmingly embed ToUnicode — FIXTURES.md §7
        #     quantifies this).
        #   - legacy-encoding names (90ms-RKSJ-H, GBK-EUC-H, …): pure
        #     external table data; fall back to 2-byte identity —
        #     ToUnicode still supplies text when present.
        enc = doc.resolve(self.d.get("Encoding"))
        if isinstance(enc, Name) and _PREDEF_UNICODE_CMAP.match(enc):
            self._unicode_codes = True
            if "UTF16" in enc:
                # the UTF-16 CMaps' published codespace: 2-byte BMP
                # buckets around the surrogate gap + 4-byte surrogate
                # pairs (byte-wise membership per §9.7.6.2)
                self._code_lens = [
                    (2, b"\x00\x00", b"\xd7\xff"),
                    (2, b"\xe0\x00", b"\xff\xff"),
                    (4, b"\xd8\x00\xdc\x00", b"\xdb\xff\xdf\xff"),
                ]
        elif isinstance(enc, Stream):
            try:
                cs, cid_runs = _parse_cid_cmap(enc.data())
                if not cs and cid_runs:
                    # CID mappings without a codespacerange (seen in
                    # sloppy writers): assume the default 2-byte space
                    # so the parsed code→CID data still keys widths
                    cs = [(2, b"\x00\x00", b"\xff\xff")]
                if cs:
                    self._code_lens = cs
                self._cid_delta = _RangeMap(cid_runs, 0)
            except Exception:
                pass  # malformed CMap → identity fallback
        desc_fonts = doc.resolve(self.d.get("DescendantFonts"))
        self.default_width = 1000.0
        runs = []  # (first CID, last CID, width) in /W order
        if isinstance(desc_fonts, list) and desc_fonts:
            df = doc.resolve(desc_fonts[0])
            if isinstance(df, dict):
                self._init_descriptor(df.get("FontDescriptor"))
                dw = doc.resolve(df.get("DW"))
                if isinstance(dw, (int, float)):
                    self.default_width = _real(dw)
                else:
                    self.default_width = 1000.0
                warr = doc.resolve(df.get("W"))
                if isinstance(warr, list):
                    i = 0
                    while i < len(warr):
                        c = doc.resolve(warr[i])
                        if i + 1 < len(warr) and isinstance(
                            doc.resolve(warr[i + 1]), list
                        ):
                            lst = doc.resolve(warr[i + 1])
                            for j, w in enumerate(lst):
                                w = doc.resolve(w)
                                if isinstance(w, (int, float)):
                                    runs.append((int(c) + j, int(c) + j, _real(w)))
                            i += 2
                        elif i + 2 < len(warr):
                            c2 = doc.resolve(warr[i + 1])
                            w = doc.resolve(warr[i + 2])
                            if isinstance(w, (int, float)):
                                runs.append((int(c), int(c2), _real(w)))
                            i += 3
                        else:
                            break
        self._cid_w = _RangeMap(runs, self.default_width)

    def _cid_width(self, cid: int) -> float:
        """A Type0 glyph's /W width, else /DW."""
        return self._cid_w[cid]

    def _cid_for(self, code: int) -> int:
        """Type0 code→CID: the embedded CMap's mapping, else identity."""
        return code + self._cid_delta[code]

    def _text(self, code: int) -> str | None:
        """A code's ToUnicode text, None where it maps none."""
        v = self.tounicode[code]
        return None if v is None else v[0] + chr(code + v[1])

    def _next_code(self, s: bytes, i: int) -> tuple[int, int]:
        """Variable-length code segmentation per the encoding CMap's
        codespace: shortest byte-length whose range contains the next
        bytes wins. Membership is BYTE-WISE (§9.7.6.2): every byte of
        the candidate must lie within the corresponding byte of the
        range bounds. On no match, consume the shortest declared
        length (spec error recovery) so decoding always advances."""
        lens = self._code_lens
        for nbytes, lo, hi in lens:
            if i + nbytes <= len(s):
                cand = s[i : i + nbytes]
                if all(lo[j] <= cand[j] <= hi[j] for j in range(nbytes)):
                    return int.from_bytes(cand, "big"), nbytes
        nbytes = min(lens[0][0], len(s) - i)
        return int.from_bytes(s[i : i + nbytes], "big"), nbytes

    def _unicode_code_txt(self, code: int, nbytes: int) -> str:
        """Predefined Uni*-UCS2/UTF16 CMap: the code IS the UTF-16BE
        unit(s). Lone surrogates (malformed content) decode to the
        replacement glyph, matching the unmapped-code fallback; code 0
        stays empty (the notdef convention the other paths use)."""
        if code == 0:
            return ""
        try:
            return code.to_bytes(max(nbytes, 2), "big").decode("utf-16-be")
        except (UnicodeDecodeError, OverflowError):
            return "�"

    def decode(self, s: bytes) -> list[tuple[str, float, int]]:
        """→ [(unicode_text, width_in_1000ths, code)] per glyph."""
        out = []
        if self.two_byte:
            if self._code_lens is not None:
                i = 0
                while i < len(s):
                    code, nbytes = self._next_code(s, i)
                    i += nbytes
                    txt = self._text(code)
                    if txt is None:
                        if self._unicode_codes:
                            txt = self._unicode_code_txt(code, nbytes)
                        else:
                            txt = "�" if code else ""
                    out.append((txt, self._cid_width(self._cid_for(code)), code))
                return out
            for i in range(0, len(s) - 1, 2):
                code = (s[i] << 8) | s[i + 1]
                txt = self._text(code)
                if txt is None:
                    if self._unicode_codes:
                        txt = self._unicode_code_txt(code, 2)
                    else:
                        txt = "�" if code else ""
                out.append((txt, self._cid_width(code), code))
            if len(s) % 2:  # trailing odd byte
                code = s[-1]
                out.append((self._text(code) or "", self.default_width, code))
        else:
            # hot path: one precomputed (text, width, code) per byte —
            # built lazily on first show op for this font. The common
            # vanilla case (base encoding only: no ToUnicode, no Widths,
            # no Differences) is memoized module-wide — fonts are
            # per-document objects, so without the memo every document
            # rebuilt an identical 256-entry table.
            table = self._dec_table
            if table is None:
                ck = None
                if (
                    not self.tounicode.starts
                    and not self.widths
                    and not getattr(self, "_enc_diffs", True)
                ):
                    ck = (self._base_codec, self.default_width)
                    table = _DEC_TABLE_CACHE.get(ck)
                if table is None:
                    table = [
                        (
                            self._text(c) or self.enc.get(c, ""),
                            self.widths.get(c, self.default_width),
                            c,
                        )
                        for c in range(256)
                    ]
                    if ck is not None:
                        if len(_DEC_TABLE_CACHE) >= _DEC_TABLE_CACHE_MAX:
                            del _DEC_TABLE_CACHE[next(iter(_DEC_TABLE_CACHE))]
                        _DEC_TABLE_CACHE[ck] = table
                self._dec_table = table
            for code in s:
                out.append(table[code])
        return out


# --------------------------------------------------------------------------
# Content-stream interpreter


def _mat_mul(a: tuple, b: tuple) -> tuple:
    """3x2 affine: [a b c d e f] row-vector convention (PDF 9.4.4)."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (
        a0 * b0 + a1 * b2,
        a0 * b1 + a1 * b3,
        a2 * b0 + a3 * b2,
        a2 * b1 + a3 * b3,
        a4 * b0 + a5 * b2 + b4,
        a4 * b1 + a5 * b3 + b5,
    )


def _mat_apply(m: tuple, x: float, y: float) -> tuple[float, float]:
    return (m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5])


_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


class _RawSpan:
    __slots__ = ("text", "x0", "y0", "x1", "y1", "baseline", "font", "size", "order")

    def __init__(self, text, x0, y0, x1, y1, baseline, font, size, order):
        self.text = text
        self.x0, self.y0, self.x1, self.y1 = x0, y0, x1, y1
        self.baseline = baseline
        self.font = font
        self.size = size
        self.order = order


class ContentInterpreter:
    """Executes one page's content, collecting raw device-space spans."""

    def __init__(self, doc: PdfDocument, resources: dict, page_height: float,
                 font_cache: dict | None = None):
        self.doc = doc
        self.page_height = page_height
        self.spans: list[_RawSpan] = []
        self._order = 0
        # shared across pages of one document: fonts are defined once
        # per doc but referenced from every page's resources
        self._font_cache: dict[int, Font] = font_cache if font_cache is not None else {}
        self._resources = resources

    def _font_for(self, resources: dict, name: str) -> Optional[Font]:
        # fast path: (resources identity, name) → Font, skipping the
        # Font-dict resolve on every Tf op. id() keys are only stable
        # while the keyed dict is alive, so pin a strong reference to
        # each resources dict in the cache — otherwise a GC'd dict's id
        # could be reused and resolve a later dict to the wrong Font
        nkey = (id(resources), name)
        hit = self._font_cache.get(nkey, False)
        if hit is not False:
            return hit
        self._font_cache[("pin", id(resources))] = resources
        fonts = self.doc.resolve(resources.get("Font"))
        if not isinstance(fonts, dict):
            self._font_cache[nkey] = None
            return None
        fref = fonts.get(name)
        key = fref.num if isinstance(fref, Ref) else id(fref)
        if key in self._font_cache:
            font = self._font_cache[key]
        else:
            fdict = self.doc.resolve(fref)
            font = Font(self.doc, fdict) if isinstance(fdict, dict) else None
            self._font_cache[key] = font
        self._font_cache[nkey] = font
        return font

    def run(self, content: bytes, depth: int = 0, ctm: tuple = _IDENT,
            resources: Optional[dict] = None) -> None:
        if depth > 8:
            return
        res = resources if resources is not None else self._resources
        doc = self.doc
        stack: list[Any] = []
        gs_stack: list[tuple] = []
        font: Optional[Font] = None
        tfs = 0.0
        tc = 0.0
        tw = 0.0
        tz = 100.0
        tl = 0.0
        ts = 0.0
        tm = _IDENT
        tlm = _IDENT
        lex = Lexer(content, 0)
        n = len(content)

        def show(payload: Any) -> None:
            nonlocal tm
            if font is None or not isinstance(payload, (bytes, list)):
                return
            items = payload if isinstance(payload, list) else [payload]
            text_parts: list[str] = []
            # glyph-space advance accumulated in text space units
            x_start, y_start = _mat_apply(_mat_mul(tm, ctm), 0.0, ts)
            xcur = 0.0  # advance along baseline in unscaled text space
            for item in items:
                if isinstance(item, (int, float)):
                    xcur -= _real(item) / 1000.0 * tfs * (tz / 100.0)
                    continue
                if not isinstance(item, bytes):
                    continue
                for uni, w1000, code in font.decode(item):
                    adv = (w1000 / 1000.0 * tfs + tc) * (tz / 100.0)
                    if not font.two_byte and code == 32:
                        adv += tw * (tz / 100.0)
                    text_parts.append(uni)
                    xcur += adv
            text = "".join(text_parts)
            trm = _mat_mul(tm, ctm)
            # effective font size = |(0, tfs)| under the full transform
            scale_y = (trm[2] ** 2 + trm[3] ** 2) ** 0.5
            scale_x = (trm[0] ** 2 + trm[1] ** 2) ** 0.5
            eff_size = tfs * scale_y
            x_end, _ = _mat_apply(trm, xcur, ts)
            # device-space bbox (assume horizontal text; rotated text
            # degrades to its baseline extent, which is fine for goldens)
            asc = font.ascent * tfs * scale_y
            desc = font.descent * tfs * scale_y
            y_base_dev = y_start
            ph = self.page_height
            y_top = ph - (y_base_dev + asc)
            y_bot = ph - (y_base_dev + desc)
            x0, x1 = min(x_start, x_end), max(x_start, x_end)
            if text:
                self.spans.append(
                    _RawSpan(
                        text, x0, min(y_top, y_bot), x1, max(y_top, y_bot),
                        ph - y_base_dev, font.name, eff_size, self._order,
                    )
                )
                self._order += 1
            # advance text matrix
            tm = _mat_mul((1, 0, 0, 1, xcur, 0), tm)

        while lex.pos < n:
            lex._skip_ws()
            if lex.pos >= n:
                break
            c = content[lex.pos]
            if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or (
                0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E)
            ):
                try:
                    stack.append(lex.read_object(doc))
                except PdfError:
                    break
                continue
            start = lex.pos
            while lex.pos < n and content[lex.pos] not in _REGULAR_END:
                lex.pos += 1
            if lex.pos == start:
                lex.pos += 1
                continue
            op = content[start : lex.pos]

            try:
                if op == b"q":
                    gs_stack.append(ctm)
                elif op == b"Q":
                    if gs_stack:
                        ctm = gs_stack.pop()
                elif op == b"cm" and len(stack) >= 6:
                    m = tuple(_real(v) for v in stack[-6:])
                    # clamped, so nested cm products cannot overflow
                    ctm = tuple(map(_real, _mat_mul(m, ctm)))
                elif op == b"BT":
                    tm = tlm = _IDENT
                elif op == b"ET":
                    pass
                elif op == b"Tf" and len(stack) >= 2:
                    tfs = _real(stack[-1])
                    fname = stack[-2]
                    if isinstance(fname, str):
                        font = self._font_for(res, fname)
                elif op == b"Td" and len(stack) >= 2:
                    tlm = _mat_mul((1, 0, 0, 1, _real(stack[-2]), _real(stack[-1])), tlm)
                    tm = tlm
                elif op == b"TD" and len(stack) >= 2:
                    tl = -_real(stack[-1])
                    tlm = _mat_mul((1, 0, 0, 1, _real(stack[-2]), _real(stack[-1])), tlm)
                    tm = tlm
                elif op == b"Tm" and len(stack) >= 6:
                    tlm = tm = tuple(_real(v) for v in stack[-6:])
                elif op == b"T*":
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                elif op == b"TL" and stack:
                    tl = _real(stack[-1])
                elif op == b"Tc" and stack:
                    tc = _real(stack[-1])
                elif op == b"Tw" and stack:
                    tw = _real(stack[-1])
                elif op == b"Tz" and stack:
                    tz = _real(stack[-1])
                elif op == b"Ts" and stack:
                    ts = _real(stack[-1])
                elif op == b"Tj" and stack:
                    show(stack[-1])
                elif op == b"TJ" and stack:
                    show(stack[-1])
                elif op == b"'" and stack:
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == b'"' and len(stack) >= 3:
                    tw = _real(stack[-3])
                    tc = _real(stack[-2])
                    tlm = _mat_mul((1, 0, 0, 1, 0.0, -tl), tlm)
                    tm = tlm
                    show(stack[-1])
                elif op == b"Do" and stack:
                    self._do_xobject(stack[-1], res, ctm, depth)
                elif op == b"BI":
                    # inline image: skip to EI at a byte boundary —
                    # whitespace on BOTH sides (MuPDF's heuristic), or
                    # raw image bytes that happen to contain b"EI "
                    # would truncate the rest of the page's text
                    e = content.find(b"EI", lex.pos)
                    while e >= 0 and (
                        (e + 2 < n and content[e + 2] not in _WS)
                        or (e > 0 and content[e - 1] not in _WS)
                    ):
                        e = content.find(b"EI", e + 2)
                    lex.pos = n if e < 0 else e + 2
            except (ValueError, TypeError):
                pass
            stack.clear()

    def _do_xobject(self, name: Any, res: dict, ctm: tuple, depth: int) -> None:
        if not isinstance(name, str):
            return
        xobjs = self.doc.resolve(res.get("XObject"))
        if not isinstance(xobjs, dict):
            return
        xo = self.doc.resolve(xobjs.get(name))
        if not isinstance(xo, Stream):
            return
        if self.doc.resolve(xo.dict.get("Subtype")) != "Form":
            return
        mtx = self.doc.resolve(xo.dict.get("Matrix"))
        inner_ctm = ctm
        if isinstance(mtx, list) and len(mtx) == 6:
            try:
                inner_ctm = tuple(map(_real, _mat_mul(tuple(_real(v) for v in mtx), ctm)))
            except (TypeError, ValueError):
                pass
        inner_res = self.doc.resolve(xo.dict.get("Resources"))
        if not isinstance(inner_res, dict):
            inner_res = res
        try:
            self.run(xo.data(), depth + 1, inner_ctm, inner_res)
        except PdfError:
            pass


# --------------------------------------------------------------------------
# Page assembly → spandoc shape

_LINE_TOL = 2.0  # device units: spans within this baseline distance share a line


def _assemble_lines(spans: list[_RawSpan]) -> list[list[dict]]:
    """Group raw spans into lines by baseline proximity; order lines
    top-down, spans within a line left-to-right (fitz reading order)."""
    if not spans:
        return []
    by_baseline = sorted(spans, key=lambda s: (s.baseline, s.x0, s.order))
    lines: list[list[_RawSpan]] = []
    cur: list[_RawSpan] = [by_baseline[0]]
    cur_base = by_baseline[0].baseline
    for sp in by_baseline[1:]:
        if abs(sp.baseline - cur_base) <= _LINE_TOL:
            cur.append(sp)
        else:
            lines.append(cur)
            cur = [sp]
        cur_base = sp.baseline
    lines.append(cur)
    out = []
    for ln in lines:
        ln.sort(key=lambda s: (s.x0, s.order))
        out.append(
            [
                {
                    "text": s.text,
                    "bbox": [s.x0, s.y0, s.x1, s.y1],
                    "font": s.font,
                    "size": s.size,
                }
                for s in ln
            ]
        )
    return out


def extract_spans(payload: bytes) -> list[dict]:
    """%PDF bytes → spandoc pages list (the parse_spandoc shape)."""
    doc = PdfDocument(payload)
    pages_out = []
    font_cache: dict = {}
    for page in doc.pages():
        media = doc.resolve(page.get("MediaBox")) or [0, 0, 612, 792]
        try:
            mb = [_real(doc.resolve(v)) for v in media]
        except (TypeError, ValueError):
            mb = [0, 0, 612, 792]
        if len(mb) < 4:  # corrupt /MediaBox: repair like MuPDF, don't fail the doc
            mb = [0, 0, 612, 792]
        width = abs(mb[2] - mb[0])
        height = abs(mb[3] - mb[1])
        # /Rotate: rotate PDF space into an upright page of swapped
        # dims so the interpreter's top-down flip applies unchanged
        # (90: (x,y)->(y, W-x); 180: (W-x, H-y); 270: (H-y, x))
        rot = doc.resolve(page.get("Rotate")) or 0
        try:
            rot = int(rot) % 360
        except (TypeError, ValueError):
            rot = 0
        base_ctm = _IDENT
        if rot == 90:
            base_ctm = (0.0, -1.0, 1.0, 0.0, 0.0, width)
            width, height = height, width
        elif rot == 180:
            base_ctm = (-1.0, 0.0, 0.0, -1.0, width, height)
        elif rot == 270:
            base_ctm = (0.0, 1.0, -1.0, 0.0, height, 0.0)
            width, height = height, width
        resources = doc.resolve(page.get("Resources"))
        if not isinstance(resources, dict):  # corrupt /Resources: extract unstyled
            resources = {}
        contents = doc.resolve(page.get("Contents"))
        parts: list[bytes] = []
        if isinstance(contents, Stream):
            parts.append(contents.data())
        elif isinstance(contents, list):
            for c in contents:
                c = doc.resolve(c)
                if isinstance(c, Stream):
                    parts.append(c.data())
        interp = ContentInterpreter(doc, resources, height, font_cache=font_cache)
        if parts:
            try:
                interp.run(b"\n".join(parts), ctm=base_ctm)
            except RecursionError:
                pass
        lines = _assemble_lines(interp.spans)
        # one block per line: the downstream fold is per-line, and the
        # analyzer consumes blocks in list order (top-down) — see
        # span_merge.merge_doc_spans
        pages_out.append({"width": width, "blocks": [[ln] for ln in lines]})
    if not pages_out:
        raise PdfError("no pages")
    return pages_out
