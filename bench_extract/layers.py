"""Tracing and per-layer measurement, all from outside the program.

``Tracer`` records spans (name, start, end, parent) around calls into
the program's public functions and keeps them in memory until the run
writes them out. ``python_stage_pass`` runs the extraction stage's
batch function in this process over the same rows, in the session's
Arrow batch size, with each layer's public function wrapped in a span.
``worker_peak_rss_mb`` reads the PySpark Python workers' VmHWM from
/proc, and ``wait_exited`` waits for processes the run started to end.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import Counter

_NULL = contextlib.nullcontext()


class NullTracer:
    """Tracing off: spans cost one attribute lookup."""

    def span(self, name: str):
        return _NULL


class Tracer:
    """Spans and counters of one run, kept in memory until ``write``."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.counts: Counter = Counter()
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, self._open[-1] if self._open else None])
        self._open.append(idx)
        try:
            yield idx
        finally:
            self._open.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s[3] == idx]

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus what their children cover."""
        by_parent: dict[int, float] = {}
        for s in self.spans:
            if s[3] is not None:
                by_parent[s[3]] = by_parent.get(s[3], 0.0) + s[2] - s[1]
        return sum(
            s[2] - s[1] - by_parent.get(i, 0.0) for i, s in enumerate(self.spans) if s[0] == name
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


# ------------------------------------------------- python stage pass
class _CaptureMap:
    """Stands in for the pages DataFrame so ``extract_pages`` hands over
    the function its ``mapInPandas`` stage runs on the executors."""

    fn = None

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _stage_function():
    from pdf_extractor_spark.operators.extract import extract_pages

    cap = _CaptureMap()
    extract_pages(cap, keep_failed=True)
    if cap.fn is None:
        raise RuntimeError("extract_pages no longer builds a mapInPandas stage")
    return cap.fn


def _spans_in(pages) -> int:
    return sum(len(line) for p in pages for block in p.get("blocks", []) for line in block)


@contextlib.contextmanager
def _wrapped_layers(tr: Tracer):
    """Wrap each layer's public function, as the extraction stage looks
    it up, in a span plus counters; restore them on exit."""
    from pdf_extractor_spark.operators import analyzer, html_extract, span_merge
    from pdf_extractor_spark.sources import payload, pdfparse

    orig = {
        (payload, "parse_payload"): payload.parse_payload,
        (payload, "parse_spandoc"): payload.parse_spandoc,
        (pdfparse, "extract_spans"): pdfparse.extract_spans,
        (span_merge, "merge_doc_spans"): span_merge.merge_doc_spans,
        (analyzer, "analyze_batch"): analyzer.analyze_batch,
        (html_extract, "extract_html"): html_extract.extract_html,
    }

    def parse_payload(raw):
        with tr.span("payload.parse_payload"):
            return orig[payload, "parse_payload"](raw)

    def parse_spandoc(raw):
        tr.counts["payload.spandoc_docs"] += 1
        with tr.span("payload.spandoc_decode"):
            return orig[payload, "parse_spandoc"](raw)

    def extract_spans(raw):
        tr.counts["pdfparse.docs"] += 1
        try:
            with tr.span("pdfparse.extract_spans"):
                return orig[pdfparse, "extract_spans"](raw)
        except Exception:
            tr.counts["pdfparse.failures"] += 1
            raise

    def merge_doc_spans(pages):
        with tr.span("span_merge.merge"):
            merged, width = orig[span_merge, "merge_doc_spans"](pages)
        tr.counts["span_merge.spans_in"] += _spans_in(pages)
        tr.counts["span_merge.blocks_out"] += len(merged)
        return merged, width

    def analyze_batch(blocks):
        tr.counts["analyzer.calls"] += 1
        tr.counts["analyzer.blocks_in"] += len(blocks)
        with tr.span("analyzer.analyze_batch"):
            out = list(orig[analyzer, "analyze_batch"](blocks))
        tr.counts["analyzer.docs_out"] += len(out)
        yield from out

    def extract_html(raw):
        tr.counts["html_extract.docs"] += 1
        tr.counts["html_extract.bytes_in"] += len(raw)
        with tr.span("html_extract.extract"):
            return orig[html_extract, "extract_html"](raw)

    wrappers = {
        "parse_payload": parse_payload,
        "parse_spandoc": parse_spandoc,
        "extract_spans": extract_spans,
        "merge_doc_spans": merge_doc_spans,
        "analyze_batch": analyze_batch,
        "extract_html": extract_html,
    }
    for (mod, attr) in orig:
        setattr(mod, attr, wrappers[attr])
    try:
        yield
    finally:
        for (mod, attr), fn in orig.items():
            setattr(mod, attr, fn)


# per-document spans: a parse_payload span opens a document, and the
# merge or HTML span after it belongs to the same document
_DOC_SPANS = ("payload.parse_payload", "span_merge.merge", "html_extract.extract")


def python_stage_pass(pdf, batch_rows: int, tr: Tracer) -> dict:
    """Run the extraction stage single-process over ``pdf`` (url, html)
    in ``batch_rows``-row batches, recording spans and counts in ``tr``,
    and return per-layer metrics."""
    stage = _stage_function()
    with _wrapped_layers(tr):
        for lo in range(0, len(pdf), batch_rows):
            batch = pdf.iloc[lo : lo + batch_rows].reset_index(drop=True)
            with tr.span("extract.process_batch"):
                for _ in stage(iter([batch])):
                    pass

    doc_ms: list[float] = []
    fallback = 0
    for b, s in enumerate(tr.spans):
        if s[0] != "extract.process_batch":
            continue
        kids = [tr.spans[i] for i in tr.children(b)]
        fallback += max(0, sum(k[0] == "analyzer.analyze_batch" for k in kids) - 1)
        docs: list[float] = []
        for k in kids:
            if k[0] == "payload.parse_payload":
                docs.append(0.0)
            if k[0] in _DOC_SPANS:
                docs[-1] += k[2] - k[1]
        # batch-level work (analyzer, render, assembly) is shared evenly
        shared = (s[2] - s[1] - sum(docs)) / max(len(docs), 1)
        doc_ms.extend(1000.0 * (d + shared) for d in docs)

    c = tr.counts
    batches = len(tr.durations("extract.process_batch"))
    batch_s = tr.total("extract.process_batch")
    pct = statistics.quantiles(doc_ms, n=100) if len(doc_ms) > 1 else [0.0] * 99
    return {
        "payload.spandoc_decode_s": tr.total("payload.spandoc_decode"),
        "payload.spandoc_docs": c["payload.spandoc_docs"],
        "pdfparse.extract_spans_s": tr.total("pdfparse.extract_spans"),
        "pdfparse.docs": c["pdfparse.docs"],
        "pdfparse.failures": c["pdfparse.failures"],
        "span_merge.merge_s": tr.total("span_merge.merge"),
        "span_merge.spans_in": c["span_merge.spans_in"],
        "span_merge.blocks_out": c["span_merge.blocks_out"],
        "analyzer.analyze_batch_s": tr.total("analyzer.analyze_batch"),
        "analyzer.calls": c["analyzer.calls"],
        "analyzer.blocks_in": c["analyzer.blocks_in"],
        "analyzer.docs_out": c["analyzer.docs_out"],
        "analyzer.fallback_calls": fallback,
        "analyzer.fallback_per_batch": fallback / max(batches, 1),
        "html_extract.extract_s": tr.total("html_extract.extract"),
        "html_extract.docs": c["html_extract.docs"],
        "html_extract.mb_in": c["html_extract.bytes_in"] / 1e6,
        "extract.process_batch_s": batch_s,
        "extract.self_s": tr.self_time("extract.process_batch"),
        "extract.batches": batches,
        "extract.docs_per_s_1core": len(pdf) / batch_s if batch_s else 0.0,
        "extract.doc_ms_p50": pct[49],
        "extract.doc_ms_p99": pct[98],
    }


# ------------------------------------------- worker memory, processes
def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(children.get(pid, []))
        todo.extend(children.get(pid, []))
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM (peak resident set) of any PySpark Python worker
    or daemon started under this process."""
    peak_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline = f.read()
            if b"pyspark.daemon" not in cmdline and b"pyspark.worker" not in cmdline:
                continue
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue  # exited while reading
    return peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_exited(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (a zombie has ended)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {[p for p in pids if _alive(p)]}")
        time.sleep(0.05)
