import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from duckdb_ner_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from duckdb_ner_spark import NerEngine

    return NerEngine(spark)


@pytest.fixture(scope="module")
def oracle_con():
    """DuckDB connection with every sf0.001 table as a view (oracle side)."""
    import duckdb

    from duckdb_ner_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con
