"""Shared fixtures: one tuned SparkSession for the whole run, sf0.001
test tables, and a pandas-equality helper mirroring the reference's
``assert_eq`` style (dask/dataframe/utils.py:assert_eq)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dask_spark.session import get_spark

    # Test-session shuffle width (r16): the suite runs thousands of
    # tiny actions where per-stage task count is pure scheduling
    # overhead — 8 reducers instead of the core count shaves ~6% of
    # suite wall (measured on the binned property tests, 162s → 152s)
    # with zero semantic effect (every op is partitioning-invariant;
    # the scale-shape tests that NEED wide shuffles set their own
    # conf). Env-overridable like every session knob.
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    """dict of table name -> DaskFrame over the sf0.001 parquet."""
    import dask_spark as ds

    names = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    return {n: ds.read_parquet(f"{sf_dir}/{n}.parquet") for n in names}


@pytest.fixture(scope="session")
def pdf_tables(tables):
    """Same tables collected to pandas — the oracle side for assert_eq."""
    return {n: f.compute() for n, f in tables.items()}


from dask_spark.testing import assert_eq  # noqa: E402,F401


# ---- smoke lane (r15): `pytest -m smoke` = fast representative slice
# for iteration (~3 min of the full ~25 min gate). The FULL suite
# stays the round gate; smoke is file-granular so the slice tracks
# new tests in these modules automatically, plus single tests marked
# @pytest.mark.smoke elsewhere (the Arrow-kernel parity pins).
_SMOKE_FILES = {
    "test_frame.py", "test_reductions_groupby.py", "test_joins.py",
    "test_dt_tz.py", "test_advice_r14.py", "test_advice_r15.py",
    "test_fuzz_parity.py", "test_edge_cases.py",
}


def pytest_collection_modifyitems(config, items):
    import pathlib

    import pytest as _pytest

    for item in items:
        if pathlib.Path(str(item.fspath)).name in _SMOKE_FILES:
            item.add_marker(_pytest.mark.smoke)
