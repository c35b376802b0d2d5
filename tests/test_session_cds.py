"""The driver JVM's class-data-sharing archive (session.driver_cds).

Every test but the last runs against a fake Java runtime and Spark
home under ``tmp_path``, with the archive cache pointed there too, and
a stand-in for the training child, so no JVM starts. The last one
starts a fresh JVM through ``get_spark`` in a subprocess, on an archive
it builds in ``tmp_path``.
"""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from pdf_extractor_spark import session

REPO = Path(__file__).resolve().parent.parent


def _write(path: Path, data: bytes) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    return path


@pytest.fixture
def host(tmp_path, monkeypatch):
    """A fake runtime and Spark home; returns (spark_home, java_home, cache)."""
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    _write(java_home / "release", b'JAVA_VERSION="17.0.1"\n')
    _write(java_home / "bin" / "java", b"#!/bin/sh\n")
    _write(java_home / "lib" / "server" / "libjvm.so", b"\x7fELF")
    for name in ("a.jar", "b.jar"):
        _write(spark_home / "jars" / name, name.encode())
    _write(spark_home / "conf" / "spark-defaults.conf.template", b"")
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", *session._CLASSPATH_VARS):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session, "_failed_builds", set())
    return spark_home, java_home, tmp_path / "cache" / "pdf_extractor_spark" / "cds"


def _fake_training(monkeypatch, code: str) -> None:
    """Replace the training child by ``python -c code tmp``."""
    monkeypatch.setattr(session, "_train_command", lambda tmp: [sys.executable, "-c", code, str(tmp)])


WRITES_ARCHIVE = "import sys; open(sys.argv[1], 'wb').write(b'A' * 4096)"


def _warnings(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records if r.name == session.__name__ and r.levelno == logging.WARNING]


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_key_is_stable_and_follows_runtime_and_jars(host):
    spark_home, java_home, _ = host
    key = session.archive_key(spark_home, java_home)
    assert session.archive_key(spark_home, java_home) == key

    jar = spark_home / "jars" / "a.jar"
    jar.write_bytes(b"a longer jar")  # size
    key_size = session.archive_key(spark_home, java_home)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))  # mtime
    key_mtime = session.archive_key(spark_home, java_home)
    (java_home / "release").write_bytes(b'JAVA_VERSION="17.0.2"\n')  # runtime
    key_release = session.archive_key(spark_home, java_home)
    (java_home / "lib" / "server" / "libjvm.so").write_bytes(b"\x7fELF2")
    key_libjvm = session.archive_key(spark_home, java_home)
    assert len({key, key_size, key_mtime, key_release, key_libjvm}) == 5


def test_unpublished_archive_is_never_passed_to_the_jvm(host, monkeypatch):
    spark_home, java_home, cache = host
    key = session.archive_key(spark_home, java_home)
    archive = _write(cache / f"{key}.jsa", b"A" * 1000)
    (cache / f"{key}.size").write_text("4096")  # a truncated archive
    stale = _write(cache / f"{key}.{_dead_pid()}.tmp", b"A" * 4096)  # a build that died
    assert not session.usable(archive)
    assert not session.usable(stale)

    _fake_training(monkeypatch, WRITES_ARCHIVE)
    flag, env = session.driver_cds()
    assert f"-XX:SharedArchiveFile={archive}" in flag.split()
    assert session.usable(archive) and archive.stat().st_size == 4096  # rebuilt
    assert env == {"SPARK_CONF_DIR": str(cache / "conf")}
    assert not list((cache / "conf").iterdir())
    assert not stale.exists()


def test_failed_build_gives_no_flag_and_one_warning(host, monkeypatch, caplog):
    _, _, cache = host
    _fake_training(monkeypatch, "import sys; open(sys.argv[1], 'wb').write(b'A'); sys.exit(3)")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session.driver_cds() is None
        assert session.driver_cds() is None  # not rebuilt, not warned again in this process
    [warning] = _warnings(caplog)
    assert "exited 3" in warning
    assert not list(cache.glob("*.jsa")) and not list(cache.glob("*.tmp"))


@pytest.mark.parametrize("cause", ["conf_file", "HADOOP_CONF_DIR"])
def test_unusable_classpath_skips_cds_with_one_warning(host, monkeypatch, caplog, cause):
    spark_home, _, cache = host
    _fake_training(monkeypatch, WRITES_ARCHIVE)
    if cause == "conf_file":
        _write(spark_home / "conf" / "spark-defaults.conf", b"spark.ui.enabled false\n")
    else:
        monkeypatch.setenv("HADOOP_CONF_DIR", str(spark_home / "conf"))
    with caplog.at_level(logging.INFO, logger=session.__name__):
        assert session.driver_cds() is None
    [warning] = _warnings(caplog)
    assert ("spark-defaults.conf" if cause == "conf_file" else "HADOOP_CONF_DIR") in warning
    assert not cache.exists() or not list(cache.glob("*.jsa"))


def test_publish_leaves_one_archive(host, monkeypatch):
    spark_home, java_home, cache = host
    old = [_write(cache / "0ld.jsa", b"B" * 10), _write(cache / "0ld.size", b"10")]
    dead_tmp = _write(cache / f"0ld.{_dead_pid()}.tmp", b"B")
    live_tmp = _write(cache / f"0ther.{os.getppid()}.tmp", b"B")  # a build still running
    unrelated = _write(cache / "notes.txt", b"")
    _fake_training(monkeypatch, WRITES_ARCHIVE)
    session.driver_cds()
    key = session.archive_key(spark_home, java_home)
    assert sorted(p.name for p in cache.iterdir()) == sorted(
        ["conf", f"{key}.jsa", f"{key}.size", live_tmp.name, unrelated.name]
    )
    assert not any(p.exists() for p in [*old, dead_tmp])


def _capture_builder(monkeypatch) -> dict:
    """Stub getOrCreate; the returned dict gets the builder's options
    and the SPARK_CONF_DIR seen at launch."""
    seen = {}

    class FakeSpark:
        sparkContext = type("SC", (), {"setLogLevel": lambda self, level: None})()

    def get_or_create(builder):
        seen["options"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return FakeSpark()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def test_caller_default_java_options_are_kept(monkeypatch):
    seen = _capture_builder(monkeypatch)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", "/callers/conf")
    monkeypatch.setattr(session, "driver_cds", lambda: ("-XX:SharedArchiveFile=/c/k.jsa", {"SPARK_CONF_DIR": "/c/conf"}))
    session.get_spark(
        extra_conf={
            "spark.driver.defaultJavaOptions": "-Dcaller=1",
            "spark.driver.extraJavaOptions": "-Dextra=1",
        }
    )
    assert seen["options"]["spark.driver.defaultJavaOptions"] == "-XX:SharedArchiveFile=/c/k.jsa -Dcaller=1"
    assert seen["options"]["spark.driver.extraJavaOptions"] == "-Dextra=1"
    assert seen["conf_dir"] == "/c/conf"  # for the launch only
    assert os.environ["SPARK_CONF_DIR"] == "/callers/conf"


@pytest.mark.parametrize("jvm", ["launched-here", "spark-submit", "already-live"])
def test_driver_memory_is_set_only_when_launching_the_jvm(monkeypatch, jvm):
    """spark.driver.memory only sizes a JVM this process starts; under
    spark-submit, or on a live gateway, the heap is already fixed."""
    seen = _capture_builder(monkeypatch)
    monkeypatch.setattr(session, "driver_cds", lambda: None)
    monkeypatch.setattr(SparkContext, "_gateway", object() if jvm == "already-live" else None)
    if jvm == "spark-submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    else:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert seen["options"].get("spark.driver.memory") == ("3g" if jvm == "launched-here" else None)
    # likewise the default master: spark-submit's --master must stand
    assert seen["options"].get("spark.master") == ("local[3]" if jvm == "launched-here" else None)


CHILD = textwrap.dedent(
    """
    import json, sys, tempfile
    from pdf_extractor_spark import corpus, io as pio
    from pdf_extractor_spark.operators.extract import extract_pages
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("cds_test", master="local[2]")
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    out = tempfile.mkdtemp()
    pages = corpus.distributed_pages(spark, 82, seed=3)
    stats = pio.write_result(extract_pages(pages), out, n_buckets=4)
    stats["args"] = list(mx.getInputArguments())
    stats["rows"] = pio.read_result(spark, out).filter("parse_ok").count()
    spark.stop()
    print(json.dumps(stats))
    """
)


def test_fresh_jvm_starts_on_a_built_archive(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", CHILD], env=env, cwd=tmp_path, capture_output=True, text=True, timeout=900
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    [archive] = (tmp_path / "pdf_extractor_spark" / "cds").glob("*.jsa")
    assert f"-XX:SharedArchiveFile={archive}" in stats["args"]
    assert "Unable to use shared archive" not in proc.stderr
    # 82 synthetic docs: the corrupt slice is i % 41 == 7
    assert (stats["rows_in"], stats["rows_out"], stats["parse_failures"]) == (82, 80, 2)
    assert stats["rows"] == 80
