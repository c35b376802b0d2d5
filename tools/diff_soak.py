#!/usr/bin/env python
"""Extended differential soak: clean-room refimpl vs the ACTUAL reference.

tests/test_refimpl_vs_reference.py pins byte-identity on 1,200 random
spandocs per pytest run (bounded so the suite stays fast). This tool runs
the SAME comparison at arbitrary scale across an mp.Pool: each random
document is rendered by the real reference code (/root/reference/
extract_outline.py imported under a minimal fake ``fitz``) and by
tests/refimpl.py, and the indent=2 JSON outputs are byte-compared.

The refimpl is the oracle that anchors every Spark byte-identity test
(pipeline vs refimpl), so this soak extends the anchor itself: any
divergence on any input would invalidate the whole chain.

Run: python tools/diff_soak.py [--docs 50000] [--seed 0] [--workers 12]
Exit 0 = byte-identical on every doc; nonzero = first divergence printed.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import io
import json
import random
import sys
import time
from multiprocessing import Pool
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))

import refimpl  # noqa: E402
import test_refimpl_vs_reference as ref_harness  # noqa: E402

from pdf_extractor_spark import corpus  # noqa: E402


@functools.cache
def _extractor():
    """Per-worker reference extractor (its import is slow)."""
    return ref_harness.load_reference()


def _compare(key: int, pages: list[dict]) -> dict:
    with contextlib.redirect_stdout(io.StringIO()):  # reference prints per doc
        expected = ref_harness._run_reference(_extractor(), pages)
    actual = refimpl.extract_document(pages)
    if expected is None or actual is None:
        ok = expected is None and actual is None
        return {"seed": key, "ok": ok, "empty": True}
    exp_json = json.dumps(expected, indent=2, ensure_ascii=False)
    act_json = refimpl.render_json(actual)
    if exp_json != act_json:
        return {"seed": key, "ok": False, "empty": False, "ref": exp_json[:600], "ours": act_json[:600]}
    return {"seed": key, "ok": True, "empty": False, "nbytes": len(exp_json)}


def _one(seed: int) -> dict:
    return _compare(seed, corpus.random_spandoc(random.Random(seed)))


def _one_testdata(row: tuple[int, str]) -> dict:
    """Same comparison over the documents→spandoc adapter used by
    __spark_entry__.entry (realistic corpus text, not random spans)."""
    doc_id, text = row
    return _compare(doc_id, corpus.spandoc_from_doc_row(doc_id, text))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--workers", type=int, default=12)
    ap.add_argument(
        "--testdata",
        metavar="SF_DIR",
        help="instead of random spandocs, compare on EVERY row of "
        "SF_DIR/documents.parquet via the spandoc_from_doc_row adapter",
    )
    args = ap.parse_args()
    if not ref_harness.REF.exists():
        print(json.dumps({"skipped": "reference repo not available"}))
        return 0

    t0 = time.time()
    if args.testdata:
        import duckdb

        rows = (
            duckdb.connect()
            .execute(
                f"select doc_id, text from read_parquet('{args.testdata}/documents.parquet')"
                " order by doc_id"
            )
            .fetchall()
        )
        n_ok = n_empty = total_bytes = 0
        with Pool(args.workers) as pool:
            for res in pool.imap_unordered(_one_testdata, rows, chunksize=16):
                if not res["ok"]:
                    print(json.dumps({"verdict": "DIVERGENCE", **res}, ensure_ascii=False))
                    return 1
                n_ok += 1
                n_empty += res["empty"]
                total_bytes += res.get("nbytes", 0)
        wall = time.time() - t0
        print(
            json.dumps(
                {
                    "verdict": "byte-identical",
                    "mode": "testdata",
                    "sf_dir": args.testdata,
                    "docs": len(rows),
                    "empty_on_both": n_empty,
                    "json_bytes_compared": total_bytes,
                    "wall_sec": round(wall, 1),
                }
            )
        )
        return 0

    seeds = [args.seed * 1_000_003 + i for i in range(args.docs)]
    n_ok = n_empty = total_bytes = 0
    with Pool(args.workers) as pool:
        for res in pool.imap_unordered(_one, seeds, chunksize=64):
            if not res["ok"]:
                print(json.dumps({"verdict": "DIVERGENCE", **res}, ensure_ascii=False))
                return 1
            n_ok += 1
            n_empty += res["empty"]
            total_bytes += res.get("nbytes", 0)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "verdict": "byte-identical",
                "docs": args.docs,
                "seed": args.seed,
                "empty_on_both": n_empty,
                "json_bytes_compared": total_bytes,
                "wall_sec": round(wall, 1),
                "docs_per_sec": round(args.docs / wall, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
