from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_portofolio_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


def cwd_relative(spark, path: str) -> str:
    """``path`` relative to the working directory: the base both Python's
    file listing and the JVM's Hadoop FileSystem resolve it against."""
    assert spark._jvm.java.lang.System.getProperty("user.dir") == os.getcwd()
    return os.path.relpath(path)


@pytest.fixture(scope="session")
def spark():
    spark = build_session("etl-portofolio-spark-tests", master="local[4]")
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
