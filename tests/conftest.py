from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

REFERENCE_ROOT = Path("/root/reference")
FIXTURES_BLL = REFERENCE_ROOT / "bll/tests/resources"
FIXTURES_DAL = REFERENCE_ROOT / "dal/tests/resources"


@pytest.fixture(scope="session")
def spark():
    from quake3_log_analyser_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4"))
    spark = get_spark("q3spark-tests", cpus=cpus, shuffle_partitions=4)
    yield spark


def fixture_lines(path: Path) -> list[str]:
    return path.read_text(encoding="utf-8", errors="replace").splitlines()


def pytest_terminal_summary(terminalreporter):
    """Goldens gated on the external reference fixtures must not pass
    silently: name the missing directory and count the tests it skipped."""
    n = sum(
        "reference fixture" in str(r.longrepr)
        for r in terminalreporter.stats.get("skipped", [])
    )
    if n:
        where = "is missing" if not REFERENCE_ROOT.exists() else "lacks fixture files"
        terminalreporter.write_line(
            f"{n} tests skipped for want of a reference fixture: "
            f"{REFERENCE_ROOT} {where}"
        )
