import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from maxx_spark.session import get_spark

    s = get_spark("maxx-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ref_files():
    """Reference fixture corpus, read at test time (not vendored)."""
    from pathlib import Path

    d = Path("/root/reference/tests/files")
    if not d.is_dir():
        pytest.skip("reference corpus not available")
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
