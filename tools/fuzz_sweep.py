#!/usr/bin/env python
"""Extended corruption sweep across every untrusted-input surface.

The pytest fuzz suites (tests/test_pdfparse_fuzz.py, test_pdfcrypt_fuzz.py,
test_html_fuzz.py, test_pdfparse.py::test_fuzzed_pdfs_never_hang) pin the
orderly-failure contract on a bounded per-run example budget so the suite
stays fast. This tool runs the SAME contracts at arbitrary scale — tens of
thousands of mutated documents across an mp.Pool — as a pre-judge
robustness soak. Web-crawled corpora at 100 TB hit every corruption class
daily; one interpreter-level crash or pathological loop inside an executor
poisons a whole task retry budget, so the bar is: every byte string either
parses to a well-formed result or raises an orderly Exception promptly.

Run: python tools/fuzz_sweep.py [--iters 20000] [--seed 0] [--workers 16]
Exit 0 = contract held on every mutant; nonzero = violation (printed).
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import time
from collections import Counter
from multiprocessing import Pool
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))

from pdf_extractor_spark import corpus  # noqa: E402
from pdf_extractor_spark.operators.html_extract import extract_html  # noqa: E402
from pdf_extractor_spark.sources import payload as payload_mod  # noqa: E402
from pdf_extractor_spark.sources import pdfparse  # noqa: E402
from pdf_extractor_spark.sources import warc as warc_mod  # noqa: E402

_DISORDERLY = (MemoryError, RecursionError, SystemExit, KeyboardInterrupt)
_BUDGET_SEC = 10.0  # same per-doc wall budget the pytest fuzzers use

_SEEDS: dict[str, list[bytes]] = {}


def _build_seeds() -> dict[str, list[bytes]]:
    """Deterministic seed corpus covering every decode path: generated
    PDFs, the reference fixture PDFs, Type3 + embedded-CMap fonts,
    RC4/AES encrypted docs, spandoc payloads, and tag-soup HTML."""
    pdfs = [corpus.random_pdf(random.Random(s)) for s in range(6)]
    fixtures = _REPO / "tests" / "fixtures" / "pdfs"
    for p in sorted(fixtures.glob("*.pdf")) if fixtures.exists() else []:
        pdfs.append(p.read_bytes())
    ref_fix = Path("/root/reference/input")
    for p in sorted(ref_fix.glob("*.pdf")) if ref_fix.exists() else []:
        pdfs.append(p.read_bytes())
    import test_pdf_fonts as tpf  # construction-truth exotic-font builders

    pdfs.append(tpf._build(tpf._t3_font(), b"BT /F1 24 Tf 72 700 Td (ABC) Tj ET", 5))
    cm = (
        b"begincmap\n"
        b"2 begincodespacerange <00> <7F> <8140> <FEFE> endcodespacerange\n"
        b"1 begincidrange <41> <43> 100 endcidrange\n"
        b"1 begincidchar <8140> 500 endcidchar\nendcmap"
    )
    tu = b"begincmap\n1 beginbfrange <41> <43> <0058> endbfrange\nendcmap"
    pdfs.append(
        tpf._build(
            tpf._type0(cm, tu, b"[100 [250 250 250]]"),
            b"BT /F1 24 Tf 72 700 Td (AB\x81\x40C) Tj ET",
            8,
        )
    )
    # predefined Unicode CMap-by-name (structural UTF-16BE decode, r5)
    named = [
        (
            3,
            b"<< /Type /Font /Subtype /Type0 /BaseFont /CJK /Encoding "
            b"/UniJIS-UTF16-H /DescendantFonts [4 0 R] >>",
        ),
        (4, b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /CJK /DW 1000 >>"),
        (5, b"<< >>"),
        (6, b"<< >>"),
        (7, b"<< >>"),
    ]
    pdfs.append(
        tpf._build(
            named, b"BT /F1 24 Tf 72 700 Td (\xd8\x42\xdf\xb7\x30\x42\x4e\x2d) Tj ET", 8
        )
    )
    import test_pdfcrypt_fuzz as tcf  # rc4/aes encrypted fixtures

    crypt = [tcf._FIXTURES["rc4"], tcf._FIXTURES["aes"]]
    spandocs = [
        corpus.spandoc_to_payload(corpus.random_spandoc(random.Random(s)))
        for s in range(4)
    ]
    htmls = [corpus.random_html(random.Random(s)) for s in range(6)]
    warcs = []
    for s, gz in ((0, False), (1, True)):
        rows = corpus.build_pages_rows(8, seed=100 + s)
        warcs.append(corpus.rows_to_warc(rows, member_gzip=gz))
    return {
        "pdf": pdfs,
        "crypt": crypt,
        "spandoc": spandocs,
        "html": htmls,
        "warc": warcs,
    }


def _mutate(rng: random.Random, doc: bytes) -> bytes:
    op = rng.randrange(4)
    if op == 0:  # truncate
        return doc[: rng.randrange(1, max(2, len(doc)))]
    if op == 1:  # bit flips
        b = bytearray(doc)
        for _ in range(rng.randrange(1, 30)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        return bytes(b)
    if op == 2:  # binary splice
        junk = bytes(rng.getrandbits(8) for _ in range(rng.randrange(1, 2048)))
        pos = rng.randrange(len(doc) + 1)
        return doc[:pos] + junk + doc[pos:]
    # header + pure garbage
    junk = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 2048)))
    return doc[: rng.randrange(0, min(16, len(doc)))] + junk


def _assert_pages(pages) -> None:
    assert isinstance(pages, list)
    for page in pages:
        for block in page["blocks"]:
            for line in block:
                for span in line:
                    assert isinstance(span["text"], str)
                    assert isinstance(span["size"], (int, float))
                    assert len(span["bbox"]) == 4


def _assert_html(res) -> None:
    assert set(res) == {"title", "main_text", "outline", "n_kept", "n_dropped"}
    assert isinstance(res["main_text"], str)
    assert res["n_kept"] >= 0 and res["n_dropped"] >= 0
    for e in res["outline"]:
        assert e["level"] in {"H1", "H2", "H3", "H4", "H5", "H6"}


def _one(task: tuple[int, int]) -> dict:
    """One mutant: returns outcome metadata; raises on contract breach."""
    global _SEEDS
    if not _SEEDS:
        _SEEDS = _build_seeds()
    i, base_seed = task
    rng = random.Random(base_seed * 1_000_003 + i)
    kind = rng.choice(("pdf", "pdf", "crypt", "spandoc", "html", "html", "warc"))
    doc = _mutate(rng, rng.choice(_SEEDS[kind]))
    t0 = time.monotonic()
    err = None
    try:
        if kind == "html":
            _assert_html(extract_html(doc))
        elif kind == "warc":
            # bounded iteration: the record generator must terminate on
            # ANY byte string (a backward scan = infinite loop = hang)
            n_rec = 0
            for headers, block in warc_mod.iter_warc_records(doc):
                assert isinstance(headers, dict)
                warc_mod.http_response_body(block)
                n_rec += 1
                assert n_rec <= 10_000, "runaway record generator"
        elif kind == "spandoc":
            k, pages = payload_mod.parse_payload(doc)
            if pages is not None:
                _assert_pages(pages)
        else:
            _assert_pages(pdfparse.extract_spans(doc))
        outcome = "parsed"
    except Exception as exc:
        if isinstance(exc, _DISORDERLY) or isinstance(exc, AssertionError):
            raise  # contract breach — surface with the failing (i, seed)
        outcome = "raised"
        err = type(exc).__name__
    elapsed = time.monotonic() - t0
    if elapsed > _BUDGET_SEC:
        raise RuntimeError(f"wall budget breach: {kind} mutant {i} took {elapsed:.1f}s")
    return {"kind": kind, "outcome": outcome, "err": err, "sec": elapsed}


def stream_warc_mode(trials: int, seed: int) -> int:
    """Checkpoint-kill fuzz of the WARC STREAMING edge (VERDICT r4 #8):
    per trial, land a random subset of deterministic archives (some
    mutated — the reader is record-tolerant, proven never to raise on
    the mutation classes), start the landing-dir stream with 1-file
    micro-batches, KILL it at a random point mid-landing, land the
    remaining archives plus a re-shipped duplicate under a new
    filename, restart from the checkpoint, and drain.

    Contract (same orderly-failure bar as the byte-level sweep):
      - the RESUMED query must never fail (exceptions during the kill
        phase are the point of the kill and are swallowed);
      - the committed table holds every url exactly ONCE (file-source
        checkpoint + url anti-join survive a mid-batch kill);
      - the url set equals BATCH truth: what iter_warc_records +
        http_response_body extract from the landed bytes directly —
        streaming twin parity under kill, corruption, and re-ship.
    """
    import shutil
    import tempfile

    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.sources.warc import http_response_body, iter_warc_records
    from pdf_extractor_spark.streaming.pipeline import (
        stream_extract,
        stream_warc_pages,
    )

    spark = get_spark("fuzz_stream_warc", shuffle_partitions=8)
    t0 = time.monotonic()
    kills_mid = 0
    replays = 0
    planted = 0
    for t in range(trials):
        rng = random.Random(seed * 9_973 + t)
        rows = corpus.build_pages_rows(48, seed=500 + t)
        archives: list[tuple[str, bytes]] = []
        for k in range(6):
            gz = rng.random() < 0.5
            data = corpus.rows_to_warc(rows[k * 8 : (k + 1) * 8], member_gzip=gz)
            if rng.random() < 0.35:
                data = _mutate(rng, data)
            archives.append((f"a{k}.warc" + (".gz" if gz else ""), data))
        base = Path(tempfile.mkdtemp(prefix="fuzz_stream_warc_"))
        land = base / "landing"
        land.mkdir()
        out, ckpt = str(base / "out"), str(base / "ckpt")
        n_first = rng.randrange(1, len(archives))
        for name, data in archives[:n_first]:
            (land / name).write_bytes(data)
        try:
            q = stream_extract(
                stream_warc_pages(spark, str(land), max_files=1), out, ckpt, n_buckets=4
            )
            time.sleep(rng.random() * 2.0)
            try:
                q.stop()  # the kill — mid-batch half the time
                q.awaitTermination()
            except Exception:
                kills_mid += 1  # interrupted batch: exactly what we test recovery from
            # harsher deterministic fault (q.stop() is graceful): with
            # p=0.5 delete the LATEST checkpoint commit file, the exact
            # disk state a crash between the data commit and the
            # checkpoint commit leaves — the restart must REPLAY that
            # batch and the committed-url anti-join must absorb it
            commits = Path(ckpt) / "commits"
            if rng.random() < 0.5 and commits.exists():
                nums = sorted(
                    (int(p.name), p) for p in commits.iterdir() if p.name.isdigit()
                )
                if nums:
                    _n, p = nums[-1]
                    p.unlink()
                    (commits / f".{p.name}.crc").unlink(missing_ok=True)
                    replays += 1
            # second deterministic fault (defect #5's disk state): a
            # crash between a metadata log's temp write and its rename
            # leaves .{batch}.{uuid}.tmp behind; when NO batch ever
            # committed, Spark 4 refuses the restart outright
            # (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY) —
            # sanitize_checkpoint must sweep the debris either way
            if rng.random() < 0.4:
                offsets = Path(ckpt) / "offsets"
                tgt = offsets if rng.random() < 0.7 else commits
                tgt.mkdir(parents=True, exist_ok=True)
                nums2 = [int(p.name) for p in tgt.iterdir() if p.name.isdigit()]
                nxt = (max(nums2) + 1) if nums2 else 0
                fake_uuid = "%08x-dead-beef-cafe-%012x" % (
                    rng.getrandbits(32),
                    rng.getrandbits(48),
                )
                (tgt / f".{nxt}.{fake_uuid}.tmp").write_bytes(b"")
                planted += 1
            for name, data in archives[n_first:]:
                (land / name).write_bytes(data)
            dup_name, dup_data = archives[rng.randrange(len(archives))]
            (land / f"reship_{dup_name}").write_bytes(dup_data)
            # the resume: MUST drain cleanly whatever state the kill left
            try:
                q = stream_extract(
                    stream_warc_pages(spark, str(land), max_files=2),
                    out,
                    ckpt,
                    n_buckets=4,
                )
                q.awaitTermination()
            except Exception as exc:
                print(
                    f"FAIL trial {t}: resume query failed "
                    f"({type(exc).__name__}: {str(exc).splitlines()[0][:160]}) "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            want = set()
            for _name, data in archives:  # the re-ship adds no new urls
                for hdr, block in iter_warc_records(data):
                    if hdr.get("warc-type") not in ("response", "resource"):
                        continue
                    u = hdr.get("warc-target-uri")
                    if not u:
                        continue
                    payload = (
                        http_response_body(block)
                        if hdr.get("warc-type") == "response"
                        else block
                    )
                    if payload is None:
                        continue
                    want.add(u)
            got = [
                r["url"]
                for r in spark.read.parquet(out + "/result").select("url").collect()
            ]
            if len(got) != len(set(got)):
                print(
                    f"FAIL trial {t}: duplicate urls after kill-resume "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            if set(got) != want:
                print(
                    f"FAIL trial {t}: url set diverges from batch truth "
                    f"(missing {sorted(want - set(got))[:3]}, "
                    f"extra {sorted(set(got) - want)[:3]}) "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            shutil.rmtree(base, ignore_errors=True)
        except Exception:
            print(f"FAIL trial {t}: state kept at {base}", file=sys.stderr)
            raise
    print(
        json.dumps(
            {
                "mode": "stream_warc_kill",
                "trials": trials,
                "seed": seed,
                "kills_mid_batch": kills_mid,
                "forced_batch_replays": replays,
                "planted_tmp_debris": planted,
                "wall_sec": round(time.monotonic() - t0, 1),
                "contract": "resume-clean + exactly-once + batch-truth parity",
            }
        )
    )
    return 0


def batch_kill_mode(trials: int, seed: int) -> int:
    """Kill-and-resume fuzz of the BATCH write path — the twin of
    stream_warc_mode for the production `spark-submit` job. Per trial:
    run the identical corpus uninterrupted into a truth table, then run
    it again and CANCEL every Spark job at a random point mid-write
    (sc.cancelAllJobs from a timer thread — the on-disk state a killed
    job leaves: a random subset of task-committed files, _temporary
    debris, empty destination dirs, no _SUCCESS, no/partial manifest).
    Then layer on deterministic disk faults a real crash also produces
    (truncated manifest.json, deleted _lineage, planted empty bucket
    dirs, a deleted committed bucket, _temporary droppings), optionally
    kill the FIRST resume attempt too, and finally resume to completion
    via filter_pending + append — the exact CLI --resume path.

    Contract:
      - the final resume never raises;
      - the resumed table is ROW-IDENTICAL (outline_json bytes
        included) to the uninterrupted truth table;
      - the cumulative manifest equals the truth manifest
        (partitions + totals + error_classes);
      - exactly-once per url.
    """
    import shutil
    import tempfile
    import threading

    from pdf_extractor_spark.io import filter_pending, read_result, write_result
    from pdf_extractor_spark.operators.extract import extract_pages
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("fuzz_batch_kill", shuffle_partitions=8)
    sc = spark.sparkContext
    n_docs = 400
    t0 = time.monotonic()
    kills_landed = 0
    resume_kills = 0
    faults = Counter()

    def _rows(table_dir: str) -> list[str]:
        df = spark.read.parquet(table_dir)
        return sorted(df.select(sorted(df.columns)).toJSON().collect())

    def _manifest(out_dir: str) -> dict:
        m = json.loads(Path(out_dir, "_lineage", "manifest.json").read_text())
        return {
            "partitions": sorted(m["partitions"], key=lambda r: r["bucket"]),
            "totals": m["totals"],
            "error_classes": m.get("error_classes"),
        }

    for t in range(trials):
        rng = random.Random(seed * 104_729 + t)
        n_buckets = rng.choice([4, 8, 16])
        bucketed_input = rng.random() < 0.25
        base = Path(tempfile.mkdtemp(prefix="fuzz_batch_kill_"))
        truth_dir, kill_dir = str(base / "truth"), str(base / "kill")
        try:
            if bucketed_input:
                corpus.materialize_bucketed_corpus(
                    spark, n_docs, str(base / "pages"), seed=900 + t,
                    n_buckets=n_buckets, files_per_bucket=2,
                )
                pages = spark.read.parquet(str(base / "pages"))
            else:
                pages = corpus.distributed_pages(spark, n_docs, seed=900 + t)
            tw0 = time.monotonic()
            write_result(
                extract_pages(pages), truth_dir, n_buckets=n_buckets,
                input_bucketed=bucketed_input,
            )
            truth_t = time.monotonic() - tw0

            def _killed_run(out_dir: str) -> bool:
                """One write attempt with a randomly timed cancel;
                True if the cancel landed (the write raised)."""
                delay = rng.uniform(0.05, truth_t * 1.15)
                timer = threading.Timer(delay, sc.cancelAllJobs)
                timer.start()
                try:
                    write_result(
                        extract_pages(filter_pending(pages, out_dir)),
                        out_dir, n_buckets=n_buckets,
                        input_bucketed=bucketed_input, mode="append",
                    )
                    return False
                except Exception:
                    return True
                finally:
                    # a timer that fires after the write returned would
                    # cancel the verification jobs below
                    timer.cancel()
                    timer.join()

            if _killed_run(kill_dir):
                kills_landed += 1

            # deterministic crash-state faults on whatever the kill left
            table = Path(kill_dir, "result")
            if rng.random() < 0.5:
                (table / "_SUCCESS").unlink(missing_ok=True)
                faults["rm_success"] += 1
            if rng.random() < 0.3:
                shutil.rmtree(Path(kill_dir, "_lineage"), ignore_errors=True)
                faults["rm_lineage"] += 1
            mpath = Path(kill_dir, "_lineage", "manifest.json")
            if rng.random() < 0.3 and mpath.exists():
                txt = mpath.read_text()
                mpath.write_text(txt[: rng.randrange(len(txt))])
                faults["torn_manifest"] += 1
            if rng.random() < 0.4:
                table.mkdir(parents=True, exist_ok=True)
                for _ in range(rng.randrange(1, 4)):
                    (table / f"bucket={rng.randrange(n_buckets)}").mkdir(exist_ok=True)
                faults["empty_bucket_debris"] += 1
            if rng.random() < 0.4:
                (table / "_temporary" / "0").mkdir(parents=True, exist_ok=True)
                faults["temporary_debris"] += 1
            committed = sorted(table.glob("bucket=*/ok=*")) if table.exists() else []
            if rng.random() < 0.3 and committed:
                shutil.rmtree(committed[rng.randrange(len(committed))])
                faults["rm_committed_partition"] += 1

            # sometimes the resume itself dies and is resumed again
            if rng.random() < 0.3:
                if _killed_run(kill_dir):
                    resume_kills += 1

            # the final resume MUST converge from whatever state is left
            write_result(
                extract_pages(filter_pending(pages, kill_dir)),
                kill_dir, n_buckets=n_buckets,
                input_bucketed=bucketed_input, mode="append",
            )

            got, want = _rows(str(table)), _rows(str(Path(truth_dir, "result")))
            if got != want:
                print(
                    f"FAIL trial {t}: resumed table diverges from truth "
                    f"({len(got)} vs {len(want)} rows; buckets={n_buckets} "
                    f"bucketed={bucketed_input}) "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            if _manifest(kill_dir) != _manifest(truth_dir):
                print(
                    f"FAIL trial {t}: manifest diverges from truth "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            n_all = spark.read.parquet(str(table)).count()
            n_urls = read_result(spark, kill_dir, include_failed=True
                                 ).select("url").distinct().count()
            if not (n_all == n_urls == n_docs):
                print(
                    f"FAIL trial {t}: exactly-once violated "
                    f"(rows={n_all} urls={n_urls} expect={n_docs}) "
                    f"— state kept at {base}",
                    file=sys.stderr,
                )
                return 1
            shutil.rmtree(base, ignore_errors=True)
        except Exception:
            print(f"FAIL trial {t}: state kept at {base}", file=sys.stderr)
            raise
    print(
        json.dumps(
            {
                "mode": "batch_kill",
                "trials": trials,
                "seed": seed,
                "kills_landed": kills_landed,
                "resume_kills": resume_kills,
                "faults": dict(faults),
                "wall_sec": round(time.monotonic() - t0, 1),
                "contract": "resume-converges + row/manifest-identical + exactly-once",
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=20000)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--workers", type=int, default=16)
    ap.add_argument(
        "--stream-warc",
        type=int,
        default=0,
        metavar="TRIALS",
        help="run the WARC streaming checkpoint-kill sweep instead of "
        "the byte-level mutant sweep",
    )
    ap.add_argument(
        "--batch-kill",
        type=int,
        default=0,
        metavar="TRIALS",
        help="run the batch kill-and-resume sweep (cancel mid-write + "
        "crash-state disk faults, then resume and compare to truth)",
    )
    args = ap.parse_args()
    if args.stream_warc:
        return stream_warc_mode(args.stream_warc, args.seed)
    if args.batch_kill:
        return batch_kill_mode(args.batch_kill, args.seed)

    tasks = [(i, args.seed) for i in range(args.iters)]
    t0 = time.monotonic()
    by_kind: Counter = Counter()
    outcomes: Counter = Counter()
    errs: Counter = Counter()
    max_sec = 0.0
    with Pool(args.workers) as pool:
        for res in pool.imap_unordered(_one, tasks, chunksize=256):
            by_kind[res["kind"]] += 1
            outcomes[f"{res['kind']}:{res['outcome']}"] += 1
            if res["err"]:
                errs[res["err"]] += 1
            max_sec = max(max_sec, res["sec"])
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "iters": args.iters,
                "seed": args.seed,
                "wall_sec": round(wall, 1),
                "mutants_per_sec": round(args.iters / wall, 1),
                "by_kind": dict(by_kind),
                "outcomes": dict(outcomes),
                "orderly_exception_classes": dict(errs),
                "max_single_doc_sec": round(max_sec, 3),
                "contract": "held",
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
