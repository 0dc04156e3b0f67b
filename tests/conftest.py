from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from opcua_ingestion_engine_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def executed_plans(spark):
    """Keep operators over driver-held test inputs on the executed path.

    ``session.local_frame`` inputs are ``LocalRelation``s, and Spark's
    ``ConvertToLocalRelation`` rule folds a deterministic Project, Filter
    or Limit over one at optimize time, evaluated interpreted on the
    driver. With the rule excluded for the module, those operators run
    as code-generated tasks, as they do over a parquet input (Spark's own
    test sessions exclude the rule for the same reason)."""
    key = "spark.sql.optimizer.excludedRules"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()
