import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from rayforce_spark.session import get_spark

    s = get_spark("rayforce_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from rayforce_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def assert_matches_duckdb(sdf, duck, sql, *, float_tol=1e-9):
    """Order-insensitive compare of a Spark DataFrame vs a DuckDB query,
    the same shape as the driver's oracle check (sorted columns, sorted
    rows, approximate float equality)."""
    import math

    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    # reorder both to sorted column order
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_rows = sorted([tuple(r[i] for i in sidx) for r in spark_rows], key=repr)
    d_rows = sorted([tuple(r[i] for i in didx) for r in duck_rows], key=repr)
    assert len(s_rows) == len(d_rows), (len(s_rows), len(d_rows))
    for sr, dr in zip(s_rows, d_rows):
        for a, b in zip(sr, dr):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                assert a == pytest.approx(b, rel=float_tol, abs=1e-9), (sr, dr)
            else:
                assert a == b, (sr, dr)


def jobs_of(spark, fn, group):
    """(fn's result, the Spark job ids it launched under ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it before asking
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
