from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tests.reference_loader import load_reference_functions  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# a test-sized driver heap: the session default pre-commits 12g (-Xms=-Xmx)
# for a fixture of a few MB; subprocess lanes inherit it through the env
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from playwrightcrawler_spark.session import get_spark

    s = get_spark(app_name="pwc-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ref():
    """AST-extracted reference functions; skip parity tests when absent."""
    fns = load_reference_functions()
    if fns is None:
        pytest.skip("reference repo not available")
    return fns


@pytest.fixture(scope="session")
def sf_dir() -> str:
    if not Path(SF_DIR).exists():
        pytest.skip(f"testdata {SF_DIR} not available")
    return SF_DIR


@pytest.fixture(scope="session")
def pages_dir(tmp_path_factory) -> str:
    """Deterministic synthetic pages table (seed=42), generated once."""
    from playwrightcrawler_spark.sources.pages_gen import write_pages_fixture

    out = tmp_path_factory.mktemp("pages") / "pages.parquet"
    write_pages_fixture(str(out), n_extra_hosts=20, seed=42)
    return str(out)
