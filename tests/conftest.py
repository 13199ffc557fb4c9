from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_SHUFFLE_PARTITIONS", "8")
    from eth_event_tracker_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_plan(spark):
    """``registry_plan(name, sf_dir)``: the formatted physical plan of a
    registry entry, built once per (entry, sf_dir) in the session.  The
    plan audits of test_plan_sweep.py and test_plans.py read the same
    plans, and building one runs the entry's driver-side jobs (k-means
    fits, PQ training), so each is built once, not once per audit."""
    from eth_event_tracker_spark.queries import all_queries

    fns = all_queries()
    plans: dict[tuple[str, str], str] = {}

    def plan(name: str, sf: str) -> str:
        if (name, sf) not in plans:
            df = fns[name](spark, sf)
            plans[name, sf] = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        return plans[name, sf]

    return plan


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
