from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_redshift_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = build_session("pandas_redshift_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def drop_memo(*families: str) -> None:
    """Drop the session-memo entries of the named families (e.g.
    ``"persist"``, ``"frame"``) so their next use rebuilds them cold.
    Every other family (tables, trained codebooks) stays warm."""
    from pandas_redshift_spark import session

    for key in [k for k in session._MEMO if k[0] in families]:
        del session._MEMO[key]
