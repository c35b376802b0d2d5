import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
for p in (str(REPO), str(REPO / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # small for test latency
    from pdf_extractor_spark.session import get_spark

    s = get_spark("pdf_extractor_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()  # removes the session's socket files


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
