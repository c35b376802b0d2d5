"""bench.py's output contract: one JSON line on stdout, nothing written.

``_run_once`` is stubbed with fixed timings, so no Spark job runs.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench_contract_test", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree(root: Path) -> dict[Path, int]:
    return {p: p.stat().st_mtime_ns for p in root.rglob("*")} if root.exists() else {}


def test_contract_mode_prints_one_json_line_and_writes_nothing(monkeypatch, capsys):
    bench = _load_bench()
    timings = {q: 0.5 for q in bench.HEADLINE}
    calls = []

    def run_once(sf_dir, master, shuffle):
        calls.append((sf_dir, master, shuffle))
        return {"total_sec": 9.5, "queries": timings, "rows": {}, "docs_per_sec": 120.0}

    monkeypatch.setattr(bench, "_run_once", run_once)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.001")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    before = _tree(REPO / "BENCH")
    bench.contract_mode()
    lines = capsys.readouterr().out.splitlines()

    assert len(lines) == 1
    out = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries"} <= out.keys()
    assert (out["value"], out["unit"], out["queries"]) == (9.5, "sec", timings)
    cores = len(os.sched_getaffinity(0))
    assert out["extra"] == {"docs_per_sec_flagship": 120.0, "cores": cores}
    assert out["sf"] == 0.001
    assert calls == [("/data/sf0.001", f"local[{cores}]", cores)]
    assert _tree(REPO / "BENCH") == before


def test_help_lists_no_mode_flags():
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--help"], capture_output=True, text=True, check=True
    )
    assert proc.stdout.startswith("usage: bench.py [-h]\n")  # no mode flags
    assert "bench_extract/run.py" in proc.stdout
