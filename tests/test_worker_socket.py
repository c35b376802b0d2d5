"""The session's worker transport: a Unix domain socket in a pinned dir.

Spark names each socket ``<dir>/.<uuid>.sock`` and Linux caps a socket
path at 107 bytes, so a session whose socket dir followed a long
``java.io.tmpdir`` would fail at start. Both tests start a fresh driver
JVM in a subprocess: one on a 70-byte ``java.io.tmpdir``, one as the
CLI, which must stop its session and so remove its socket files.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _env() -> dict[str, str]:
    """A child that launches its own small driver JVM."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")])),
    )
    return env


LONG_TMPDIR_CHILD = textwrap.dedent(
    """
    import json, sys
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("long_tmpdir", extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={sys.argv[1]}"})
    rows = spark.range(0, 64, 1, 4).mapInPandas(lambda it: it, "id long").count()
    tmpdir = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
    spark.stop()
    print(json.dumps({"rows": rows, "tmpdir": tmpdir}))
    """
)


def test_session_starts_on_a_long_java_tmpdir(tmp_path):
    tmpdir = tmp_path / ("j" * max(8, 71 - len(str(tmp_path))))
    tmpdir.mkdir()
    assert len(str(tmpdir)) >= 70
    proc = subprocess.run(
        [sys.executable, "-c", LONG_TMPDIR_CHILD, str(tmpdir)],
        env=_env(), cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"rows": 64, "tmpdir": str(tmpdir)}


def test_cli_prints_one_json_line_and_leaves_no_socket_file(spark, tmp_path):
    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    before = set(glob.glob(os.path.join(sock_dir, ".*.sock")))
    proc = subprocess.run(
        [sys.executable, "-m", "pdf_extractor_spark.cli", "--synthesize", "64", "--output", str(tmp_path / "out")],
        env=_env(), cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = proc.stdout.splitlines()
    summary = json.loads(line)
    # 64 synthetic docs: the corrupt slice is i % 41 == 7
    assert (summary["rows_in"], summary["rows_out"], summary["parse_failures"]) == (64, 62, 2)
    assert set(glob.glob(os.path.join(sock_dir, ".*.sock"))) - before == set()
