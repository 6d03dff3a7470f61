from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_WAREHOUSE = f"/tmp/geospatial_spark_warehouse_{os.getpid()}"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("geospatial-spark-tests")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's default warehouse is ./spark-warehouse: keep any catalog
        # table a test saves out of the repo checkout, pid-suffixed so two
        # concurrent pytest sessions never overwrite each other's tables
        .config("spark.sql.warehouse.dir", _WAREHOUSE)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()
    # don't leak a warehouse dir per pytest run (tables left behind when a
    # test fails before its DROP TABLE teardown included)
    import shutil

    shutil.rmtree(_WAREHOUSE, ignore_errors=True)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mimic the driver's oracle: base tables pre-registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def rows_of_spark(df, ndigits: int | None = None):
    cols = sorted(df.columns)
    out = []
    for r in df.select(*cols).collect():
        vals = []
        for c in cols:
            v = r[c]
            if ndigits is not None and isinstance(v, float):
                v = round(v, ndigits)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def rows_of_duck(con, sql: str, ndigits: int | None = None):
    res = con.sql(sql)
    cols = res.columns
    order = sorted(range(len(cols)), key=lambda k: cols[k])
    out = []
    for row in res.fetchall():
        vals = []
        for k in order:
            v = row[k]
            if ndigits is not None and isinstance(v, float):
                v = round(v, ndigits)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)
