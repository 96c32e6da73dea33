import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kgforge.conf import get_spark  # noqa: E402
from kgforge.synth import write_fixture  # noqa: E402

# The test session's heap. get_spark's 16g default is sized for a large
# box; on a 16 GB machine without swap, the suite grows a 16g heap to
# 13 GB of JVM resident memory, and with the PySpark workers and
# test_submit's second JVM no memory is left: the kernel kills the
# session's JVM and every later Spark test fails. The suite's inputs
# (sf0.01 at most) fit in 6g. KGF_DRIVER_MEM in the environment still
# overrides.
os.environ.setdefault("KGF_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    sp = get_spark("kgforge-tests", cpus=8, shuffle_partitions=8)
    yield sp


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("kgf_fixture")
    write_fixture(str(out), n_pages=200, seed=42)
    return str(out)


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01():
    return "/root/testdata/sf0.01"
