"""Round-4 review fixes (ADVICE.md items).

1. html_extract: <title> implicitly closed by a parent's end tag must
   stop title capture (previously the whole body landed in the title).
2. pdfparse: /Type /Metadata streams are stored in the clear when the
   Encrypt dict says EncryptMetadata=false — they must not be run
   through the decryptor (spec ISO 32000-1 §7.6.3.2).
3. pdfparse: the (id(resources), name) font-cache key must pin a
   strong reference to the keyed dict, or a GC'd dict's reused id()
   could resolve a later resources dict to the wrong Font.
4. bench ceiling probe: fail with a clear message under a non-fork
   multiprocessing start method (payloads are shared via fork COW).
"""

from __future__ import annotations

import gc
import hashlib
import struct
import weakref
import zlib

import pytest

from pdf_extractor_spark.sources import pdfparse
from pdf_extractor_spark.sources.pdfcrypt import _PAD, rc4

from test_pdfcrypt import ID0, _aes_encrypt_payload, _content_plain, _make_o_entry, _make_u_entry


# -- 1. title implicit close ------------------------------------------------


def test_html_title_implicit_close_stops_capture():
    from pdf_extractor_spark.operators.html_extract import extract_html

    body = "This is a long enough paragraph of running body text to pass the "
    body += "content heuristics because it has many words and punctuation."
    html = f"<html><head><title>Foo</head><body><p>{body}</p></body></html>"
    out = extract_html(html.encode())
    assert out["title"] == "Foo"
    assert body in out["main_text"]
    assert body not in out["title"]


def test_html_title_explicit_close_unchanged():
    from pdf_extractor_spark.operators.html_extract import extract_html

    out = extract_html(b"<title>Bar</title><p>Body words here for content.</p>")
    assert out["title"] == "Bar"


# -- 2. EncryptMetadata=false -----------------------------------------------

_META_XML = b"<?xpacket begin=''?><x:xmpmeta xmlns:x='adobe:ns:meta/'/>"


def _key_r4_nometa(o_entry: bytes, p: int, n: int) -> bytes:
    """Spec algorithm 2 with the R>=4 EncryptMetadata=false salt."""
    h = hashlib.md5()
    h.update(_PAD[:32])
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p))
    h.update(ID0)
    h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    for _ in range(50):
        key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _obj_key_aes(fkey: bytes, num: int, gen: int) -> bytes:
    h = hashlib.md5(
        fkey + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + b"sAlT"
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def _assemble_pdf_with_metadata(encrypt_dict: bytes, enc_stream: bytes) -> bytes:
    """Like test_pdfcrypt._assemble_pdf plus a CLEARTEXT /Metadata
    stream (object 7) referenced from the catalog."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R /Metadata 7 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        4: (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"
        ),
        5: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(enc_stream), enc_stream),
        6: encrypt_dict,
        7: b"<< /Type /Metadata /Subtype /XML /Length %d >>\nstream\n%s\nendstream"
        % (len(_META_XML), _META_XML),
    }
    buf = bytearray(b"%PDF-1.6\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num)
        buf.extend(objs[num])
        buf.extend(b"\nendobj\n")
    xref_off = len(buf)
    buf.extend(b"xref\n0 8\n0000000000 65535 f \n")
    for num in range(1, 8):
        buf.extend(b"%010d 00000 n \n" % offsets[num])
    id_hex = ID0.hex().encode()
    buf.extend(
        b"trailer\n<< /Size 8 /Root 1 0 R /Encrypt 6 0 R /ID [<%s> <%s>] >>\n"
        b"startxref\n%d\n%%%%EOF\n" % (id_hex, id_hex, xref_off)
    )
    return bytes(buf)


def test_encrypt_metadata_false_metadata_stream_left_clear():
    n, r, p = 16, 4, -3392
    o = _make_o_entry(r, n)
    fkey = _key_r4_nometa(o, p, n)
    u = _make_u_entry(fkey, 3)  # R>=3 U construction
    enc_stream = _aes_encrypt_payload(
        _obj_key_aes(fkey, 5, 0), zlib.compress(_content_plain())
    )
    enc = (
        b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d /O <%s> /U <%s> "
        b"/EncryptMetadata false "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF >>"
        % (p, o.hex().encode(), u.hex().encode())
    )
    pdf = _assemble_pdf_with_metadata(enc, enc_stream)

    # content spans decrypt correctly (the 0xFFFFFFFF key salt applied)
    pages = pdfparse.extract_spans(pdf)
    texts = [sp["text"] for pg in pages for blk in pg["blocks"] for ln in blk for sp in ln]
    assert "Secret Title" in texts

    # and the cleartext metadata stream is NOT run through the decryptor
    doc = pdfparse.PdfDocument(pdf)
    meta = doc.get_object(7)
    assert isinstance(meta, pdfparse.Stream)
    assert meta.data() == _META_XML


def test_encrypt_metadata_true_still_decrypts_metadata():
    """Default EncryptMetadata=true: an (encrypted) metadata stream
    goes through the decryptor like any other stream."""
    n, r, p = 16, 4, -3392
    o = _make_o_entry(r, n)
    # default key derivation (no 0xFFFFFFFF salt)
    h = hashlib.md5()
    h.update(_PAD[:32])
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(ID0)
    fkey = h.digest()
    for _ in range(50):
        fkey = hashlib.md5(fkey[:n]).digest()
    fkey = fkey[:n]
    u = _make_u_entry(fkey, 3)
    enc_stream = _aes_encrypt_payload(
        _obj_key_aes(fkey, 5, 0), zlib.compress(_content_plain())
    )
    enc = (
        b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d /O <%s> /U <%s> "
        b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF >>"
        % (p, o.hex().encode(), u.hex().encode())
    )
    # metadata stream encrypted with its own object key (7, 0)
    enc_meta = _aes_encrypt_payload(_obj_key_aes(fkey, 7, 0), _META_XML)
    pdf = _assemble_pdf_with_metadata(enc, enc_stream).replace(
        b"/Length %d >>\nstream\n%s\nendstream" % (len(_META_XML), _META_XML),
        b"/Length %d >>\nstream\n%s\nendstream" % (len(enc_meta), enc_meta),
    )
    doc = pdfparse.PdfDocument(pdf)
    meta = doc.get_object(7)
    assert meta.data() == _META_XML


# -- 3. font cache pins resources dicts --------------------------------------


def test_font_cache_pins_resources_dict():
    doc = pdfparse.PdfDocument(
        _assemble_pdf_with_metadata(b"<< >>", b"") .replace(b"/Encrypt 6 0 R ", b"")
    )
    interp = pdfparse.ContentInterpreter(doc, {}, 792.0)

    class _Res(dict):  # plain dict can't be weak-referenced
        pass

    res = _Res({"Font": {"F1": pdfparse.Ref(3, 0)}})
    wref = weakref.ref(res)
    assert interp._font_for(res, "F1") is not None
    del res
    gc.collect()
    # the cache holds a strong reference, so the id() key stays valid
    assert wref() is not None


# -- 4. ceiling probe start-method guard -------------------------------------


def test_ceiling_probe_requires_fork(monkeypatch):
    import multiprocessing

    import bench

    monkeypatch.setattr(multiprocessing, "get_start_method", lambda allow_none=False: "spawn")
    with pytest.raises(RuntimeError, match="fork"):
        bench._hardware_ceiling(2, 4)
