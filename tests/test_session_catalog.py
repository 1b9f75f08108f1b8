"""Session catalog: the reference's named-table mutation semantics
(``(set 'employees t)``, ``(insert 'employees row)``, ``update {from:
'employees}`` — ref core/binary.c:317, core/update.c:938)."""

from pyspark.sql import functions as F

from rayforce_spark import A, Session, insert, update


def test_named_table_mutation(spark, tables):
    sess = Session(spark)
    sess.set("orders", tables["orders"])
    before = sess.get("orders").count()

    # in-place insert: replace-on-write in the catalog
    newrow = sess.get("orders").limit(1).withColumn(
        "o_orderkey", F.lit(10_000_000)
    )
    sess.set("orders", insert(sess.get("orders"), newrow))
    assert sess.get("orders").count() == before + 1

    # in-place update by name (quoted-symbol semantics)
    sess.set(
        "orders",
        update(sess.get("orders"), {"o_totalprice": F.lit(0.0)},
               where=F.col("o_orderkey") == 10_000_000),
    )
    got = sess.get("orders").filter(F.col("o_orderkey") == 10_000_000).collect()
    assert len(got) == 1 and got[0].o_totalprice == 0.0

    # the temp view tracks the catalog (spark.sql over named tables)
    n_sql = spark.sql("SELECT count(*) AS n FROM orders").collect()[0].n
    assert n_sql == before + 1

    sess.drop("orders")
    assert "orders" not in sess.tables()


def test_cube_pivot(tables, duck):
    from rayforce_spark.operators.query import pivot, select_cube
    from tests.conftest import assert_matches_duckdb

    out = select_cube(
        tables["lineitem"],
        {"sum_qty": A.sum_("l_quantity")},
        by=["l_returnflag", "l_linestatus"],
        rollup=True,
    )
    assert_matches_duckdb(
        out, duck,
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
           FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    )

    out2 = pivot(
        tables["lineitem"], by="l_returnflag", pivot_col="l_linestatus",
        values=["O", "F"], agg=A.sum_("l_quantity"),
    )
    assert_matches_duckdb(
        out2, duck,
        """SELECT l_returnflag,
                  sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS "O",
                  sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS "F"
           FROM lineitem GROUP BY 1""",
    )


def test_host_derived_spark_defaults(monkeypatch):
    """With $SPARK_GRAFT_CPUS / $SPARK_GRAFT_DRIVER_MEM unset, the slot
    count and driver heap come from the host (CPU count; half of
    physical memory, clamped to 1g-16g), not from a fixed 32 cores and
    16g; set variables still win."""
    import os

    from rayforce_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert S.host_cpus() == "6" and S._shuffle_default("*") == 6
    for phys_gb, want in ((15, "7680m"), (64, "16384m"), (1, "1024m")):
        monkeypatch.setattr(os, "sysconf", lambda k, g=phys_gb: {
            "SC_PAGE_SIZE": 4096,
            "SC_PHYS_PAGES": g * (1 << 30) // 4096}[k])
        assert S.host_driver_mem() == want
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert S.host_cpus() == "3" and S._shuffle_default("3") == 3
    assert S.host_driver_mem() == "2g"
