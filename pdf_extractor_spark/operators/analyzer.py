"""Per-document implementation of the reference's 3-pass heading
heuristic (SURVEY.md §2.4-§2.9; reference: utils/analysis_new.py).

Design: ``analyze_batch`` takes the merged-block rows of one Arrow
batch and analyzes each document on its own, the reference's unit of
work. Passes 1-2 (derived columns, lag window, font histogram,
scoring) and pass 3 (title reconstruction, poster grouping, level
assignment: order-/path-dependent greedy logic) are plain Python over
the document's block columns, with the reference's own ``sorted``,
``max`` and ``min``, so NaN and ±inf sizes order exactly as they do
there. A document that raises becomes one error tuple; the other
documents of the batch are unaffected (S4).

Byte-identity notes (each rule cites the reference line):
- text strip / isupper / istitle are Python-unicode str methods
  (analysis_new.py:8,30-33).
- numbering patterns are anchored matches tried in priority order, so
  "I." tags as 'A.' while "IV." tags as 'I.' (analysis_new.py:35-40).
- the modal baseline size tie-breaks by FIRST occurrence in body order,
  matching Counter.most_common's stable heap (analysis_new.py:69).
  A NaN size fails the body gate (size >= 8), so it is counted only
  when no block passes it; then it is a histogram key like any other
  (dict identity, as in the reference's Counter) and can be the
  baseline. It never has a content page, so it is never a tier.
- space_above is 0.0 for a document's first block and across a page
  change (analysis_new.py:60-63).
- cluster keys use Python round() = banker's rounding
  (analysis_new.py:341).
- the final outline sort key replicates the first-text-match y lookup
  (analysis_new.py:395) which in practice never matches (outline texts
  carry a trailing space) → stable by-page sort.
"""

from __future__ import annotations

import re
from collections import defaultdict
from itertools import groupby
from operator import itemgetter
from typing import Iterator

_NUMBERING_PATTERNS = [
    (r"\d+\.\d+\.\d+", "x.y.z."),
    (r"\d+\.\d+", "x.y."),
    (r"\d+\.", "x."),
    (r"[A-Z]\.", "A."),
    (r"[IVX]+\.", "I."),
]

# One alternation replaces the per-pattern sequential try: Python `re`
# attempts alternatives LEFT TO RIGHT at the anchor, so the first group
# that matches is exactly the first pattern that would have matched in
# _NUMBERING_PATTERNS order — including the "I." → 'A.' quirk
# (analysis_new.py:35-40). `m.lastindex` is the matching alternative
# (each alternative is one group; only one can participate).
_NUMBERING_ALT = re.compile("|".join(f"({pat})" for pat, _ in _NUMBERING_PATTERNS))
_NUMBERING_TAGS = [None] + [tag for _, tag in _NUMBERING_PATTERNS]
_BOLD_RE = re.compile(r"bold|black|heavy|demi|semi")


# ----------------------------------------------------------------------
# Pass 3 — per-document classification over the block columns.
# ----------------------------------------------------------------------
_VERSION_RX = re.compile(r"Version \d+\.\d+", re.I)
_LETTER_RX = re.compile(r"[A-Za-z]")
_LETTER_BANG_RX = re.compile(r"[A-Za-z!]")
_CONTACT_RX = re.compile(r"www\.|\.com|@|\d{5}|\(\d{3}\)")
_DIGITS_ONLY_RX = re.compile(r"^[\d\s\-\(\)\.]+$")
_POSTER_KEYS = ("party", "invited", "rsvp", "hope", "see you", "address:")
_FORM_KEYS = ("date:", "time:", "for:", "address:", "rsvp:")
_FIELD_LABELS = frozenset({"ADDRESS:", "RSVP:", "DATE:", "TIME:", "FOR:"})


class _Doc:
    """One document's block columns, in block order (passes 1-2's
    sequences, not copied)."""

    __slots__ = (
        "text", "size", "page", "y", "x0", "x1", "y1",
        "bold", "case", "numbering", "centered", "score",
    )

    def __init__(self, text, size, page, y, x0, x1, y1, bold, case, numbering, centered, score):
        self.text = text
        self.size = size
        self.page = page
        self.y = y
        self.x0 = x0
        self.x1 = x1
        self.y1 = y1
        self.bold = bold
        self.case = case
        self.numbering = numbering
        self.centered = centered
        self.score = score


def _candidate_indices(d: _Doc, baseline: float, poster_v1: bool) -> list[int]:
    """F1-F4 candidate gates (analysis_new.py:126-144)."""
    keep = []
    letter_rx = _LETTER_BANG_RX if poster_v1 else _LETTER_RX
    for i, t in enumerate(d.text):
        if d.score[i] < 20 or not letter_rx.search(t):
            continue
        if _VERSION_RX.match(t):
            continue
        if poster_v1:
            if d.size[i] < baseline * 1.3 and d.score[i] < 30:
                continue
            cc = len(t)
            if cc < 8 and not d.size[i] > baseline * 1.5 and cc > 1:
                continue
        else:
            if d.numbering[i] is None and d.size[i] < baseline * 1.05:
                continue
        keep.append(i)
    return keep


def _multipage_title(d: _Doc, by_size: list[int], max_fs: float) -> tuple[str, set[str]]:
    """G2-G5: y-group, x-merge, join, cleanup (analysis_new.py:156-218)."""
    big = [i for i in by_size if d.size[i] >= max_fs * 0.85]
    groups: dict[float, list[int]] = {}
    for i in big:
        for gy in groups:
            if abs(d.y[i] - gy) <= max(d.size[i] * 0.15, 3):
                groups[gy].append(i)
                break
        else:
            groups[d.y[i]] = [i]
    lines, title_idx = [], []
    for _, grp in sorted(groups.items()):
        grp.sort(key=lambda i: d.x0[i])
        merged = ""
        last_end = -1000.0
        for i in grp:
            t = d.text[i].strip()
            if d.x0[i] < last_end + d.size[i] * 0.2:
                if t in merged or merged.endswith(t[:3]):
                    continue  # skip WITHOUT advancing last_end
                merged += t
            elif merged and not merged.endswith(" "):
                merged += " " + t
            else:
                merged += t
            last_end = d.x1[i]
        if merged.strip():
            lines.append(merged.strip())
            title_idx.extend(grp)
    if not lines:
        return "", set()
    title = re.sub(r"\s+", " ", " ".join(lines))
    title = re.sub(r"([a-z])([A-Z])", r"\1 \2", title)
    words = title.split()
    kept: list[str] = []
    for i, w in enumerate(words):
        if i > 0 and (
            w == words[i - 1]
            or (len(w) > 3 and len(words[i - 1]) > 3 and w.lower() in words[i - 1].lower())
        ):
            continue
        kept.append(w)
    return " ".join(kept), {d.text[i] for i in title_idx}


def _single_page_title(d: _Doc, by_size: list[int], max_fs: float) -> tuple[str, set[str]]:
    """G6 (analysis_new.py:219-234). The reference's :227 arm is dead code."""
    cands = [i for i in by_size if d.size[i] >= max_fs * 0.8][:3]
    for i in cands:
        if (d.centered[i] or d.size[i] >= max_fs * 0.9) and len(d.text[i].strip()) > 3:
            return d.text[i].strip(), {d.text[i]}
    return "", set()


def _poster_phrases(d: _Doc, cand: list[int], baseline: float) -> list[dict]:
    """G7-G9 poster phrase grouping (analysis_new.py:251-306)."""
    pool = []
    for i in cand:
        t = d.text[i]
        if t.strip().upper() in _FIELD_LABELS:
            continue
        if _CONTACT_RX.search(t.lower()):
            continue
        if len(t) > 50 and d.size[i] < baseline:
            continue
        pool.append(i)
    if not pool:
        return []
    ordered = sorted(pool, key=lambda i: (d.y[i], d.x0[i]))
    used: set[int] = set()
    groups: list[list[int]] = []
    for seed in ordered:
        if seed in used:
            continue
        grp = [seed]
        used.add(seed)
        for other in ordered:
            if other in used:
                continue
            if abs(d.y[other] - d.y[seed]) <= max(d.size[seed] * 0.1, 2):
                gap = min(
                    min(abs(d.x0[other] - d.x1[m]), abs(d.x0[m] - d.x1[other])) for m in grp
                )
                if gap < max(d.size[seed] * 2, 20):
                    grp.append(other)
                    used.add(other)
        if len(grp) > 1:
            grp.sort(key=lambda i: d.x0[i])
            groups.append(grp)
    if not groups:
        return []
    best = max(
        groups,
        key=lambda g: (max(d.size[i] for i in g), sum(len(d.text[i].split()) for i in g)),
    )
    combined = " ".join(d.text[i].strip() for i in best).strip()
    if len(combined) > 5 and not _DIGITS_ONLY_RX.match(combined):
        return [{"level": "H1", "text": combined + " ", "page": 0}]
    return []


def _assign_levels(d: _Doc, cand: list[int], tiers: list[float], title_texts: set[str]) -> list[dict]:
    """G11-G14 multipage outline emission (analysis_new.py:330-395)."""
    level_map: dict[tuple, str] = {}
    for i, ts in enumerate(tiers):
        level_map[(ts, True)] = f"H{i+1}"
        level_map[(ts, False)] = f"H{i+1}"
    clusters: dict[tuple, list[int]] = defaultdict(list)
    for i in cand:
        if d.numbering[i] is not None:
            continue
        key = (round(d.size[i]), d.bold[i])  # banker's rounding
        matched = False
        for ts in tiers:
            if abs(d.size[i] - ts) < 0.5:
                level_map[key] = level_map.get((ts, d.bold[i]), f"H{len(tiers)+1}")
                matched = True
                break
        if not matched:
            clusters[key].append(i)
    counter = len(tiers) + 1
    for key, _ in sorted(clusters.items(), key=lambda kv: -kv[0][0]):
        if key not in level_map:
            level_map[key] = f"H{min(counter, 6)}"
            counter += 1

    outline = []
    for i in cand:
        t = d.text[i]
        if t in title_texts or d.page[i] == 0:
            continue
        if d.numbering[i] is None and d.case[i] == "Lower" and len(t.strip()) < 10:
            continue
        num = d.numbering[i]
        if num == "x.":
            level = "H1"
        elif num == "x.y.":
            level = "H2"
        elif num == "x.y.z.":
            level = "H3"
        else:
            level = None
            for k, ts in enumerate(tiers):
                if abs(d.size[i] - ts) < 0.5:
                    level = f"H{k+1}"
                    break
            if not level:
                level = level_map.get((round(d.size[i]), d.bold[i]), "H4")
        text = t.strip()
        if not text.endswith(" "):
            text += " "
        outline.append({"level": level, "text": text, "page": d.page[i]})

    # literal replication of analysis_new.py:395 (never matches in
    # practice — outline text has a trailing space)
    outline.sort(
        key=lambda e: (e["page"], next((y for t, y in zip(d.text, d.y) if t == e["text"]), 0))
    )
    return outline


def classify_doc(d: _Doc, baseline: float, tiers: list[float]) -> tuple[str, list[dict]]:
    total_pages = len(set(d.page))
    poster_v1 = total_pages == 1
    cand = _candidate_indices(d, baseline, poster_v1)

    fp = [i for i, p in enumerate(d.page) if p == 0]
    title, title_texts = "", set()
    if fp:
        # max_fs is the head of the (-size, y) order, as in the
        # reference, NaN sizes included
        by_size = sorted(fp, key=lambda i: (-d.size[i], d.y[i]))
        max_fs = d.size[by_size[0]]
        if total_pages > 1:
            title, title_texts = _multipage_title(d, by_size, max_fs)
        else:
            title, title_texts = _single_page_title(d, by_size, max_fs)

    has_numbering = any(x is not None for x in d.numbering)
    if total_pages == 1:
        joined = " ".join(t.lower() for t in d.text)
        posterish = sum(1 for k in _POSTER_KEYS if k in joined) >= 2
        formish = sum(1 for k in _FORM_KEYS if k in joined) >= 3
        if (posterish or formish) and not has_numbering:
            return "", _poster_phrases(d, cand, baseline)
        if not title and fp:
            largest = max(fp, key=lambda i: d.size[i])
            title = d.text[largest].strip()
            title_texts.add(d.text[largest])
        heads = [
            i
            for i in cand
            if d.text[i] not in title_texts
            and (
                (d.case[i] == "UPPER" and len(d.text[i].strip()) > 5)
                or d.size[i] >= baseline * 1.2
            )
        ]
        outline = []
        if heads:
            best = min(heads, key=lambda i: (d.y[i], -d.size[i]))
            outline.append({"level": "H1", "text": d.text[best].strip(), "page": 0})
        return title, outline

    return title, _assign_levels(d, cand, tiers, title_texts)


def analyze_doc(rows: list[tuple]) -> tuple[str, list[dict]]:
    """Passes 1-3 for one document's merged-block rows, in block order.

    Passes 1-2 — derived columns, lag window, font histogram and the
    C1-C8 scoring chain (analysis_new.py:5-120) — run here over the
    row tuples; pass 3 is ``classify_doc``.
    """
    _, page, raw, size, font, x0, y0, x1, y1, width = zip(*rows)
    n = len(raw)
    text = [t.strip() for t in raw]
    case = [
        "UPPER" if s.isupper() else ("Title Case" if s.istitle() else "Lower") for s in text
    ]
    # `match(s, 0, 20)` truncates the subject at endpos=20 like the
    # reference's text[:20] (analysis_new.py:35-40)
    numbering = []
    for s in text:
        m = _NUMBERING_ALT.match(s, 0, 20)
        numbering.append(_NUMBERING_TAGS[m.lastindex] if m is not None else None)
    bold = [_BOLD_RE.search(f.lower()) is not None for f in font]
    space = [0.0] * n
    for i in range(1, n):
        if page[i] == page[i - 1]:
            space[i] = y0[i] - y1[i - 1]
    pw = width[0]
    centered = [abs(pw / 2 - (a + b) / 2) < pw * 0.2 for a, b in zip(x0, x1)]

    # pass 2: modal body size, then heading tiers (analysis_new.py:67-86)
    body = [i for i in range(n) if len(text[i]) > 10 and size[i] >= 8] or range(n)
    counts: dict = {}  # insertion order = first body occurrence
    content = set()  # sizes seen after the first page
    for i in body:
        s = size[i]
        counts[s] = counts.get(s, 0) + 1
        if page[i] > 0 and s == s:  # the reference's `==` never finds NaN
            content.add(s)
    baseline = max(counts, key=counts.get) if counts else 0.0
    # sort before filtering: with a NaN key present, the order sorted()
    # gives the other keys depends on the whole list
    tiers = [
        s
        for s in sorted(counts, reverse=True)
        if not s < baseline * 1.15 and (counts[s] >= 2 or s >= baseline * 1.5) and s in content
    ]
    # outlier-top trim (analysis_new.py:83-86)
    tiers = tiers[1:5] if len(tiers) >= 2 and tiers[0] > tiers[1] * 1.3 else tiers[:4]

    tier_rank = {s: k for k, s in enumerate(tiers)}
    score = []
    for i in range(n):
        s = size[i]
        ratio = s / baseline if baseline else 0.0
        k = tier_rank.get(s)
        if k is not None:
            v = 25 - k * 3
        elif ratio >= 2.0:
            v = 20
        elif ratio >= 1.5:
            v = 15
        elif ratio >= 1.2:
            v = 10
        elif ratio >= 1.1:
            v = 5
        else:
            v = 0
        if bold[i]:
            v += 12 if ratio >= 1.3 else 8
        if numbering[i] is not None:
            v += 18
        if case[i] == "UPPER":
            v += 6
        elif case[i] == "Title Case":
            v += 4
        if space[i] > baseline * 1.5:
            v += 10
        if centered[i] and ratio >= 1.2:
            v += 8
        cc = len(text[i])
        if cc < 4:
            v -= 8
        elif cc <= 50:
            v += 2
        elif cc > 100:
            v -= 5
        if s < baseline * 0.95:
            v -= 8
        score.append(v)

    d = _Doc(text, size, page, y0, x0, x1, y1, bold, case, numbering, centered, score)
    return classify_doc(d, baseline, tiers)


def analyze_batch(rows: list[tuple]) -> Iterator[tuple]:
    """Run the 3-pass analysis for every document of one Arrow batch.

    ``rows`` are merged blocks ``(key, page_num, text, font_size,
    font_name, x0, y0, x1, y1, page_width)``; consecutive rows with
    one key are one document, in block order. Yields ``(key, title,
    outline, error)`` per document. A document that raises yields
    ``(key, None, None, "<type>: <message>")`` and the others are
    analyzed as if it were absent.
    """
    for key, doc in groupby(rows, key=itemgetter(0)):
        try:
            title, outline = analyze_doc(list(doc))
        except Exception as exc:
            yield key, None, None, f"{type(exc).__name__}: {exc}"[:500]
        else:
            yield key, title, outline, None
