import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lance_spark.session import get_spark

    # Console progress bar off: the suite runs under pytest's output
    # capture, where the bar's continuous stderr redraws are pure cost
    # (measured on test_query_objects.py; see OPTIMIZATION_r14.md).
    os.environ.setdefault("SPARK_GRAFT_CONSOLE_PROGRESS", "false")
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    spark = get_spark("lance_spark-tests", cpus=cpus)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


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


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running test (deselect with -m 'not slow')"
    )
