import os

import pytest

from workshop3_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The ledger's tracer reads SQL executions by position in the status
    # store, which must not evict any in the session (default: past 1,000).
    s = get_spark(
        app_name="tests",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf={"spark.sql.ui.retainedExecutions": "1000000"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECT}/{name}.parquet'"
        )
    yield con
    con.close()
