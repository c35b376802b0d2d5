"""Deterministic synthetic corpus of Common-Crawl-style pages.

Produces the ``pages(url, warc_ts, html:binary, text, lang)`` table from
BASELINE.json's input_hint. Because no PDF library ships in this
environment, the PDF payload is a *span-document*: the exact span table
a PDF parser (PyMuPDF-style) would emit, serialized as zlib-compressed
JSON behind a magic header. The contract boundary of the whole engine
is this span table (SURVEY.md §5.2) — if a real PDF parser becomes
available it slots in behind the same schema
(``sources/payload.py:parse_payload``).

Everything is seeded (default 42) and pure-functional: the same
(n_docs, seed) always produces byte-identical payloads, which is what
makes the differential byte-identity tests and the two-parallelism
benchmark meaningful.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import zlib

from .sources.payload import SPANDOC_MAGIC, parse_spandoc

_FONTS_BODY = ["Helvetica", "Times-Roman", "Garamond", "Courier", "Arial-Italic"]
_FONTS_HEAD = [
    "Helvetica-Bold",
    "TimesNewRoman-Black",
    "Arial-Heavy",
    "Garamond-DemiBold",
    "Courier-SemiBold",
    "Helvetica-BoldItalic",
]
_WORDS = (
    "the quick brown fox jumps over lazy dog data spark shuffle partition "
    "vector column query plan merge batch window stream table index scan "
    "join filter aggregate sort hash broadcast skew salt bucket arrow"
).split()
_UNICODE_WORDS = ["naïve", "Überblick", "résumé", "中文", "ΔΣ", "façade"]
_HEAD_WORDS = "Introduction Methods Results Discussion Overview Analysis Design Implementation Evaluation Conclusion Appendix References".split()
_NUMBERINGS = ["1.", "2.", "3.", "1.1", "1.2", "2.1.1", "3.2", "A.", "B.", "IV.", "IX.", "10."]
_POSTER_LINES = [
    "YOU ARE INVITED",
    "RSVP: call Sarah",
    "DATE: Saturday",
    "TIME: 3 PM",
    "ADDRESS: 123 Main St",
    "HOPE TO SEE YOU THERE",
    "Party at the park",
]


def _sentence(rng: random.Random, lo: int = 4, hi: int = 14, unicode_ok: bool = False) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    if unicode_ok and rng.random() < 0.3:
        words[rng.randrange(n)] = rng.choice(_UNICODE_WORDS)
    s = " ".join(words)
    return s.capitalize() if rng.random() < 0.5 else s


def _line_of_spans(
    rng: random.Random,
    text: str,
    y: float,
    size: float,
    font: str,
    x_start: float = 54.0,
) -> list[dict]:
    """Split text into 1..4 spans along x, occasionally with gap/overlap
    jitter and whitespace-only spans, to exercise the merge fold."""
    parts_n = rng.randint(1, 4)
    words = text.split(" ")
    if parts_n > len(words):
        parts_n = len(words)
    bounds = sorted(rng.sample(range(1, len(words)), parts_n - 1)) if parts_n > 1 else []
    chunks, prev = [], 0
    for b in bounds + [len(words)]:
        chunks.append(" ".join(words[prev:b]))
        prev = b
    spans = []
    x = x_start
    for chunk in chunks:
        w = max(len(chunk), 1) * size * 0.5
        gap_mode = rng.random()
        if gap_mode < 0.55:
            gap = rng.uniform(0, size * 0.25)  # concat range
        elif gap_mode < 0.8:
            gap = rng.uniform(size * 0.35, size * 1.4)  # space-join range
        elif gap_mode < 0.9:
            gap = rng.uniform(size * 1.6, size * 4)  # flush range
        else:
            gap = rng.uniform(-8, 0)  # overlap
        y_jit = rng.uniform(-1.5, 1.5) if rng.random() < 0.3 else 0.0
        spans.append(
            {
                "text": chunk if rng.random() > 0.05 else chunk + "  ",
                "bbox": [round(x, 2), round(y + y_jit, 2), round(x + w, 2), round(y + y_jit + size * 1.2, 2)],
                "font": font if rng.random() > 0.15 else rng.choice(_FONTS_BODY + _FONTS_HEAD),
                "size": size if rng.random() > 0.2 else round(size + rng.uniform(-1.5, 1.5), 1),
            }
        )
        if rng.random() < 0.08:
            spans.append({"text": "   ", "bbox": [x, y, x + 5, y + size], "font": font, "size": size})
        x += w + gap
    return spans


def random_spandoc(rng: random.Random) -> list[dict]:
    """One synthetic document in parser-output shape:
    [{'width': float, 'blocks': [block=[line=[span,...],...],...]}, ...]
    """
    kind = rng.choices(
        ["report", "poster", "flyer", "plain", "edge"],
        weights=[0.45, 0.15, 0.15, 0.15, 0.10],
    )[0]
    width = rng.choice([612.0, 595.2, 420.0])
    body_size = rng.choice([9.0, 10.0, 10.5, 11.0, 12.0])
    body_font = rng.choice(_FONTS_BODY)
    pages: list[dict] = []

    if kind == "poster":
        y = 40.0
        lines = []
        n = rng.randint(4, 8)
        chosen = rng.sample(_POSTER_LINES, min(n, len(_POSTER_LINES)))
        for t in chosen:
            sz = rng.choice([body_size, 18.0, 24.0, 30.0])
            font = rng.choice(_FONTS_HEAD if sz > 14 else _FONTS_BODY)
            x0 = rng.uniform(40, width / 2)
            lines.append([_line_of_spans(rng, t, y, sz, font, x_start=x0)])
            y += sz * rng.uniform(1.2, 2.5)
        for _ in range(rng.randint(1, 4)):
            lines.append([_line_of_spans(rng, _sentence(rng), y, body_size, body_font)])
            y += body_size * 1.4
        pages.append({"width": width, "blocks": lines})
        return pages

    n_pages = 1 if kind in ("flyer", "plain") and rng.random() < 0.7 else rng.randint(2, 5)
    title_size = rng.choice([18.0, 20.0, 24.0, 28.0])
    for p in range(n_pages):
        blocks = []
        y = 50.0
        if p == 0 and kind != "plain":
            # title possibly split across two y-grouped lines
            for _ in range(rng.randint(1, 2)):
                t = " ".join(rng.sample(_HEAD_WORDS, rng.randint(2, 4)))
                x0 = width / 2 - len(t) * title_size * 0.25 if rng.random() < 0.6 else 54.0
                blocks.append([_line_of_spans(rng, t, y, title_size, rng.choice(_FONTS_HEAD), x_start=max(x0, 10.0))])
                y += title_size * 1.3
        n_paras = rng.randint(2, 6)
        for _ in range(n_paras):
            if kind == "report" and rng.random() < 0.5:
                num = rng.choice(_NUMBERINGS) + " " if rng.random() < 0.6 else ""
                head = num + rng.choice(_HEAD_WORDS)
                hsize = rng.choice([13.0, 14.0, 16.0, title_size * 0.8])
                y += rng.uniform(10, 30)
                blocks.append([_line_of_spans(rng, head, y, hsize, rng.choice(_FONTS_HEAD))])
                y += hsize * 1.4
            for _ in range(rng.randint(1, 4)):
                blocks.append(
                    [_line_of_spans(rng, _sentence(rng, unicode_ok=kind == "edge"), y, body_size, body_font)]
                )
                y += body_size * 1.35
        if kind == "edge" and rng.random() < 0.5:
            blocks.append([[{"text": "X", "bbox": [10, y, 14, y + 8], "font": body_font, "size": 7.0}]])
            blocks.append([[{"text": "  \t ", "bbox": [10, y, 14, y + 8], "font": body_font, "size": 7.0}]])
            blocks.append([_line_of_spans(rng, "Version 2.1 draft", y + 10, 14.0, rng.choice(_FONTS_HEAD))])
        pages.append({"width": width, "blocks": blocks})
    return pages


# ----------------------------------------------------------- payloads
def spandoc_to_payload(pages: list[dict]) -> bytes:
    return SPANDOC_MAGIC + zlib.compress(
        json.dumps(pages, ensure_ascii=False, separators=(",", ":")).encode("utf-8"), 6
    )


def payload_to_spandoc(payload: bytes) -> list[dict]:
    if not payload.startswith(SPANDOC_MAGIC):
        raise ValueError("not a spandoc payload")
    return parse_spandoc(payload)


def random_html(rng: random.Random) -> bytes:
    """Synthetic boilerplate-heavy HTML page for the DOM-stripping path."""
    title = " ".join(rng.sample(_HEAD_WORDS, 2))
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_WORDS, 5))
    paras = []
    for i in range(rng.randint(2, 6)):
        if rng.random() < 0.4:
            lvl = rng.randint(1, 3)
            paras.append(f"<h{lvl}>{rng.choice(_HEAD_WORDS)} {i}</h{lvl}>")
        body = " ".join(_sentence(rng, 8, 20) for _ in range(rng.randint(1, 3)))
        paras.append(f"<p>{body}</p>")
    sidebar = "".join(f'<a href="/x{i}">{rng.choice(_WORDS)}</a>' for i in range(6))
    html = (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f"<script>var x = 1;</script><style>.a{{color:red}}</style></head>"
        f"<body><header><h1>{title}</h1><nav><ul>{nav}</ul></nav></header>"
        f"<aside>{sidebar}</aside>"
        f"<main><article>{''.join(paras)}</article></main>"
        f"<footer><p>© 2026 example.com — <a href='/terms'>terms</a> "
        f"<a href='/privacy'>privacy</a></p></footer></body></html>"
    )
    return html.encode("utf-8")


def _pdf_escape(s: str) -> bytes:
    return (
        s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    ).encode("latin-1", "replace")


def pdf_plan(rng: random.Random) -> list[list[tuple[int, float, str]]]:
    """The line plan behind random_pdf: per page, a list of
    (y, font_size, text) text-show operations IN CONTENT-STREAM ORDER.
    This is the generator's ground truth — pdf_parse_stats' oracle is
    derived from it, so the parse check is construction-vs-parse, not
    parser-vs-itself. Draw order must stay byte-identical to what
    random_pdf always consumed (goldens depend on it)."""
    n_pages = rng.randint(1, 3)
    pages: list[list[tuple[int, float, str]]] = []
    for p in range(n_pages):
        lines: list[tuple[int, float, str]] = []
        y = 720
        if p == 0:
            title = " ".join(rng.sample(_HEAD_WORDS, 2)).title()
            lines.append((y, 22.0, title))
            y -= 40
        for _ in range(rng.randint(2, 5)):
            if rng.random() < 0.4:
                head = rng.choice(_HEAD_WORDS).title()
                lines.append((y, 16.0, head))
            else:
                body = _sentence(rng, 5, 10)
                lines.append((y, 11.0, body))
            y -= 24
        pages.append(lines)
    return pages


def pdf_of_pages(contents: list[bytes]) -> bytes:
    """Minimal REAL ``%PDF`` document: classic xref, one FlateDecode
    content stream per page, Helvetica Type1 as ``/F1``."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num)
        buf.extend(body)
        buf.extend(b"\nendobj\n")

    n_objs = 4 + 2 * len(contents)  # 1=catalog 2=pages 3=font, then page + content per page
    page_objs = range(4, n_objs, 2)
    kids = " ".join(f"{o} 0 R" for o in page_objs)
    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids.encode(), len(contents)))
    emit(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for obj, content in zip(page_objs, contents):
        data = zlib.compress(content)
        emit(
            obj,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (obj + 1),
        )
        emit(
            obj + 1,
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(data), data),
        )
    xref_off = len(buf)
    buf.extend(b"xref\n0 %d\n" % n_objs)
    buf.extend(b"0000000000 65535 f \n")
    for num in range(1, n_objs):
        buf.extend(b"%010d 00000 n \n" % offsets[num])
    buf.extend(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (n_objs, xref_off)
    )
    return bytes(buf)


def random_pdf(rng: random.Random) -> bytes:
    """Deterministic minimal REAL ``%PDF`` document (pdf_of_pages): a
    title line plus a few heading/body lines per page. Exercises
    sources/pdfparse.py — the same payload path the reference's own
    fixtures take — without any PDF library."""
    return pdf_of_pages(
        [
            b"\n".join(
                b"BT /F1 %d Tf 72 %d Td (%s) Tj ET" % (int(size), y, _pdf_escape(text))
                for (y, size, text) in page_lines
            )
            for page_lines in pdf_plan(rng)
        ]
    )


# seed base of the generated-PDF evidence corpus: document i is
# random_pdf(random.Random(PDF_CORPUS_SEED + i)) in the
# pdf_parse_stats and pdf_payload_extract queries
PDF_CORPUS_SEED = 77_000


def pdf_truth_stats(i: int) -> dict:
    """Ground-truth per-document parse stats for the generated-PDF
    corpus, derived from pdf_plan (the generator's own line plan) —
    NOT from any parser. The pdf_parse_stats driver row compares the
    distributed parse+aggregate pipeline against these constants, so
    the check is construction-vs-parse."""
    import hashlib

    plan = pdf_plan(random.Random(PDF_CORPUS_SEED + i))
    lines = [(int(s), t) for pl in plan for (_y, s, t) in pl]
    content = "\n".join(f"{s}:{t}" for s, t in lines)
    return {
        "url": f"https://pdf.example.com/doc/{i:06d}",
        "n_pages": len(plan),
        "n_spans": len(lines),
        "content_md5": hashlib.md5(content.encode("utf-8")).hexdigest(),
    }


_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
# a heavy-tail document is this many spandocs concatenated
_HEAVY_TAIL_FACTOR = 60


def build_pages_row(
    i: int,
    seed: int = 42,
    html_fraction: float = 0.25,
    heavy_tail_every: int | None = None,
) -> dict:
    """One deterministic pages-table row. Depends ONLY on (i, seed) —
    order-free, so synthesis distributes across executors with no
    driver bottleneck and corpus(N) is always a prefix of corpus(M>N)
    (required for meaningful resume tests).

    ``heavy_tail_every`` (opt-in; the default corpus has no giant)
    plants a deterministic oversized-document slice: every
    ``heavy_tail_every``-th doc is a valid spandoc ~_HEAVY_TAIL_FACTOR×
    the median page count — the north rule's oversized-document
    scenario (one giant must never blow up the task that drew it)."""
    r = random.Random(seed * 1_000_003 + i)  # per-doc stream
    # host pool independent of n_docs; Zipf-ish skew: host0 is hot
    # (north rule's skewed-host scenario).
    host = f"host{min(r.randint(0, 31), r.randint(0, 31))}.example.com"
    url = f"https://{host}/doc/{i:06d}"
    ts = _EPOCH + dt.timedelta(seconds=i * 37)
    roll = r.random()
    if i % 41 == 7:  # deterministic ~2.4% corrupt slice (S4 path)
        payload = b"GARBAGE" + bytes(r.getrandbits(8) for _ in range(64))
        lang = "und"
    elif heavy_tail_every and i % heavy_tail_every == min(3, heavy_tail_every - 1):
        # giant but VALID document: K concatenated spandocs (page list
        # append composes cleanly — the analyzer is page-order driven)
        pages: list[dict] = []
        for _ in range(_HEAVY_TAIL_FACTOR):
            pages.extend(random_spandoc(r))
        payload = spandoc_to_payload(pages)
        lang = "en"
    elif roll < html_fraction:
        payload = random_html(r)
        lang = r.choice(["en", "de", "fr", "es"])
    elif roll < html_fraction + 0.15:
        # real %PDF bytes → sources/pdfparse.py path (round 2)
        payload = random_pdf(r)
        lang = "en"
    else:
        payload = spandoc_to_payload(random_spandoc(r))
        lang = "en"
    return {"url": url, "warc_ts": ts, "html": payload, "text": None, "lang": lang}


def rows_to_warc(rows: list[dict], member_gzip: bool = True) -> bytes:
    """pages rows → Common-Crawl-style WARC bytes: one ``response``
    record per row, payload wrapped in a minimal HTTP/1.1 response;
    ``member_gzip=True`` gzips each record as its own member (the CC
    ``.warc.gz`` layout), else plain concatenated ``.warc``. gzip
    headers are pinned (mtime=0) so output is byte-deterministic."""
    import gzip as _gz

    out = bytearray()
    for row in rows:
        payload = row["html"] or b""
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
            b"Content-Length: %d\r\n\r\n" % len(payload)
        ) + payload
        ts = row.get("warc_ts")
        date = (
            ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            if ts is not None
            else "2020-01-01T00:00:00Z"
        )
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: %s\r\n"
            b"WARC-Date: %s\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: %d\r\n\r\n" % (row["url"].encode(), date.encode(), len(http))
        ) + http + b"\r\n\r\n"
        out += _gz.compress(rec, mtime=0) if member_gzip else rec
    return bytes(out)


def build_pages_rows(n_docs: int, seed: int = 42, html_fraction: float = 0.25) -> list[dict]:
    """Deterministic pages-table rows. ~html_fraction of rows carry HTML
    payloads, the rest spandocs; a small slice is corrupt (S4 path)."""
    rng = random.Random(seed)
    rows = [build_pages_row(i, seed, html_fraction) for i in range(n_docs)]
    rng.shuffle(rows)  # de-correlate url order from generation order
    return rows


def executor_rows(spark, n: int, n_slices: int, schema, rows_of):
    """DataFrame of ``rows_of(i)`` for every id in ``range(n)``, built ON
    THE EXECUTORS (mapInPandas over ``spark.range`` in ``n_slices``
    even slices) — no driver-side row building, so generation scales
    with cores exactly like a real scan would. ``rows_of`` returns an
    iterable of row dicts matching ``schema`` (a DDL string or a
    StructType)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([row for i in pdf["id"] for row in rows_of(int(i))])

    return spark.range(0, n, 1, n_slices).mapInPandas(gen, schema=schema)


def distributed_pages(
    spark,
    n_docs: int,
    seed: int = 42,
    html_fraction: float = 0.25,
    heavy_tail_every: int | None = None,
):
    """pages DataFrame of ``build_pages_row(i, ...)`` for i < n_docs,
    synthesized on the executors in 4 even slices per core."""
    from .schemas import PAGES_SCHEMA

    return executor_rows(
        spark,
        n_docs,
        spark.sparkContext.defaultParallelism * 4,
        PAGES_SCHEMA,
        lambda i: [build_pages_row(i, seed, html_fraction, heavy_tail_every=heavy_tail_every)],
    )


def materialize_bucketed_corpus(
    spark,
    n_docs: int,
    out_dir: str,
    seed: int = 42,
    n_buckets: int = 32,
    files_per_bucket: int = 4,
    heavy_tail_every: int | None = None,
) -> None:
    """Write the synthetic pages table PARTITIONED BY url-hash bucket —
    the shape an Iceberg ingest with ``bucket(N, url)`` produces. Jobs
    reading this layout run scan → extract → write with zero
    exchanges (io.write_result(input_bucketed=True)); this is the
    production contract the north rule describes, and the input shape
    the scaling benchmark uses.

    ``files_per_bucket`` > 1 splits each bucket dir into several files
    (an independent url-hash salt, NOT derived from the bucket) so the
    scan yields n_buckets × files_per_bucket splits — multiple task
    waves instead of one, which smooths stragglers and lets a smaller
    cluster load-balance; Iceberg's write.target-file-size does the
    same thing in production."""
    from pyspark.sql import functions as F

    from .io import with_bucket

    pages = distributed_pages(spark, n_docs, seed=seed, heavy_tail_every=heavy_tail_every)
    salt = F.pmod(F.xxhash64("url", F.lit("file_salt")), F.lit(files_per_bucket))
    (
        with_bucket(pages, n_buckets)
        .repartition(n_buckets * files_per_bucket, "bucket", salt)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


# ------------------------------------------------- testdata adapter
def spandoc_from_doc_row(doc_id: int, text: str) -> list[dict]:
    """Deterministically expand a /root/testdata documents row into a
    multi-page spandoc so the driver-provided tables can feed the full
    pipeline (used by __spark_entry__.entry)."""
    words = (text or "").split()
    if not words:
        words = ["empty"]
    pages: list[dict] = []
    wpl = 8  # words per line
    lines = [" ".join(words[i : i + wpl]) for i in range(0, len(words), wpl)]
    n_pages = max(1, min(4, 1 + doc_id % 4))
    per_page = max(1, (len(lines) + n_pages - 1) // n_pages)
    li = 0
    for p in range(n_pages):
        blocks = []
        y = 50.0
        if p == 0:
            t = f"Document {doc_id} " + " ".join(words[:3]).title()
            blocks.append(
                [[{"text": t, "bbox": [100.0, y, 100.0 + len(t) * 10.0, y + 24.0], "font": "Helvetica-Bold", "size": 20.0}]]
            )
            y += 30.0
        for k in range(per_page):
            if li >= len(lines):
                break
            h = (doc_id * 131 + li * 17) % 19
            if h == 0:
                head = f"{(li % 9) + 1}. Section {li}"
                blocks.append(
                    [[{"text": head, "bbox": [54.0, y, 54.0 + len(head) * 7.0, y + 16.8], "font": "Arial-Heavy", "size": 14.0}]]
                )
                y += 20.0
            line = lines[li]
            blocks.append(
                [[{"text": line, "bbox": [54.0, y, 54.0 + len(line) * 5.0, y + 12.0], "font": "Helvetica", "size": 10.0}]]
            )
            y += 14.0
            li += 1
        pages.append({"width": 612.0, "blocks": blocks})
    return pages
