#!/usr/bin/env python
"""End-to-end verification drive: build the shipped artifact, run the
production CLI through spark-submit (the north rule's interface), and
byte-compare every spandoc row of the written table against the ACTUAL
reference extractor at /root/reference (driven through a minimal fake
``fitz`` that serves the same synthetic span documents — the pattern
tests/test_refimpl_vs_reference.py pins).

Run: python tools/verify_drive.py [--n 400] [--seed 11] [--cores 8]
Exit 0 = drive green AND every spandoc row byte-identical (the
reference compare is skipped, with a notice, when /root/reference is
absent). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))

import test_refimpl_vs_reference as ref_harness  # noqa: E402

# the table's only partition level is bucket=N/; its data files sit
# directly under it, failed docs included as parse_ok=false rows
DATA_GLOB = "result/bucket=*/*.parquet"


def _build_and_drive(n: int, seed: int, cores: int, out_dir: str) -> dict:
    zip_path = _REPO / "dist" / "engine.zip"
    zip_path.parent.mkdir(exist_ok=True)
    zip_path.unlink(missing_ok=True)
    subprocess.run(
        ["zip", "-qr", str(zip_path), "pdf_extractor_spark"], cwd=_REPO, check=True
    )
    # the launcher must live OUTSIDE the repo dir, else Python imports
    # the package from CWD instead of the shipped zip
    launcher = Path(tempfile.gettempdir()) / "pdfx_verify_launcher.py"
    shutil.copy(_REPO / "pdf_extractor_spark" / "cli.py", launcher)
    proc = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", f"local[{cores}]",
            "--py-files", str(zip_path),
            str(launcher),
            "--synthesize", str(n),
            "--seed", str(seed),
            "--output", out_dir,
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _byte_compare(out_dir: str, n: int, seed: int) -> dict:
    import duckdb

    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.sources import payload as payload_codec

    extractor = ref_harness.load_reference()
    rows = duckdb.sql(
        f"SELECT url, outline_json FROM read_parquet('{out_dir}/{DATA_GLOB}',"
        " hive_partitioning=1) WHERE parse_ok"
    ).fetchall()
    written = dict(rows)
    n_span = n_match = n_mismatch = 0
    first_bad = None
    for r in corpus.build_pages_rows(n, seed):
        try:
            kind, pages = payload_codec.parse_payload(r["html"])
        except Exception:
            continue
        if kind != "spandoc":
            continue
        n_span += 1
        with contextlib.redirect_stdout(io.StringIO()):  # reference prints per doc
            ref = ref_harness._run_reference(extractor, pages)
        expect = (
            None if ref is None else json.dumps(ref, indent=2, ensure_ascii=False)
        )
        if expect == written.get(r["url"]):
            n_match += 1
        else:
            n_mismatch += 1
            first_bad = first_bad or r["url"]
    return {
        "spandoc_rows": n_span,
        "byte_identical": n_match,
        "mismatch": n_mismatch,
        "first_mismatch_url": first_bad,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=400)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    out_dir = tempfile.mkdtemp(prefix="pdfx_verify_drive_")
    try:
        summary = _build_and_drive(args.n, args.seed, args.cores, out_dir)
        # corrupt slice is i % 41 == 7: count of such i in [0, n) —
        # (n+33)//41, NOT ceil(n/41) (ceil overcounts by 1 whenever
        # n mod 41 is in 1..7)
        expect_failures = (args.n + 33) // 41
        ok = (
            summary["rows_in"] == args.n
            and summary["parse_failures"] == expect_failures
        )
        # checked with or without the reference, so a layout change
        # that strands the compare's glob shows here
        n_files = len(list(Path(out_dir).glob(DATA_GLOB)))
        ok = ok and n_files > 0
        result = {"drive": summary, "data_files": n_files, "drive_totals_ok": ok}
        if ref_harness.REF.exists():
            cmp = _byte_compare(out_dir, args.n, args.seed)
            result["reference_compare"] = cmp
            ok = ok and cmp["mismatch"] == 0 and cmp["byte_identical"] > 0
        else:
            result["reference_compare"] = f"skipped: {ref_harness.REF} absent"
        result["ok"] = ok
        print(json.dumps(result))
        return 0 if ok else 1
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
