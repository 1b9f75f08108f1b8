"""Session catalog: the reference's named-table mutation semantics
(``(set 'employees t)``, ``(insert 'employees row)``, ``update {from:
'employees}`` — ref core/binary.c:317, core/update.c:938)."""

import os

from pyspark.sql import functions as F

from rayforce_spark import A, Session, insert, update
from tests.conftest import jobs_of as _jobs_of


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


# -- load_tables: each parquet table resolved once per SparkSession ----------

def _write(path, keys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": keys}), str(path))


def test_load_tables_hit_returns_same_frames_without_jobs(spark, tmp_path):
    from rayforce_spark.session import load_tables

    _write(tmp_path / "orders.parquet", [1, 2, 3])
    _write(tmp_path / "region.parquet", [7])
    names = ["orders", "region"]
    first, miss_jobs = _jobs_of(
        spark, lambda: load_tables(spark, str(tmp_path), names), "lt-miss")
    again, hit_jobs = _jobs_of(
        spark, lambda: load_tables(spark, str(tmp_path), names), "lt-hit")
    assert miss_jobs, "schema inference should run a job on a miss"
    assert hit_jobs == []
    assert all(again[t] is first[t] for t in names)
    # a relative spelling of the same directory is the same table
    rel = os.path.relpath(tmp_path)
    assert load_tables(spark, rel, ["orders"])["orders"] is first["orders"]


def test_load_tables_rewritten_file_reresolves(spark, tmp_path):
    from rayforce_spark.session import load_tables

    _write(tmp_path / "orders.parquet", [1, 2, 3])
    old = load_tables(spark, str(tmp_path), ["orders"])["orders"]
    assert sorted(r.k for r in old.collect()) == [1, 2, 3]
    _write(tmp_path / "orders.parquet", [10, 20, 30, 40, 50])
    new = load_tables(spark, str(tmp_path), ["orders"])["orders"]
    assert new is not old
    assert sorted(r.k for r in new.collect()) == [10, 20, 30, 40, 50]


def test_load_tables_directory_table_part_added(spark, tmp_path):
    from rayforce_spark.session import load_tables

    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    _write(d / "part-00000.parquet", [1, 2])
    first = load_tables(spark, str(tmp_path), ["lineitem"])["lineitem"]
    assert first.count() == 2
    # hidden and underscore files are not data files: no re-resolve
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".staging").write_bytes(b"")
    assert load_tables(spark, str(tmp_path), ["lineitem"])["lineitem"] is first
    _write(d / "part-00001.parquet", [3, 4, 5])
    grown = load_tables(spark, str(tmp_path), ["lineitem"])["lineitem"]
    assert grown is not first
    assert sorted(r.k for r in grown.collect()) == [1, 2, 3, 4, 5]


def test_load_tables_deleted_table_drops_out(spark, tmp_path):
    from rayforce_spark.session import load_tables

    _write(tmp_path / "orders.parquet", [1])
    _write(tmp_path / "region.parquet", [2])
    assert set(load_tables(spark, str(tmp_path), ["orders", "region"])) == {
        "orders", "region"}
    os.remove(tmp_path / "orders.parquet")
    assert set(load_tables(spark, str(tmp_path), ["orders", "region"])) == {
        "region"}
    # a removed directory's frames leave the catalog on the next call,
    # whatever that call asks for
    other = tmp_path / "other"
    other.mkdir()
    _write(other / "orders.parquet", [3])
    load_tables(spark, str(other), ["orders"])
    os.remove(other / "orders.parquet")
    other.rmdir()
    load_tables(spark, str(tmp_path), ["region"])
    assert str(other / "orders.parquet") not in spark._rayforce_resolved
    # a table written back at the path is resolved afresh
    _write(tmp_path / "orders.parquet", [4, 5])
    back = load_tables(spark, str(tmp_path), ["orders"])["orders"]
    assert sorted(r.k for r in back.collect()) == [4, 5]


def test_load_tables_new_session_gets_its_own_frames(spark, tmp_path):
    import gc
    import weakref

    from rayforce_spark.session import load_tables

    _write(tmp_path / "orders.parquet", [1, 2])
    mine = load_tables(spark, str(tmp_path), ["orders"])["orders"]
    other = spark.newSession()
    theirs = load_tables(other, str(tmp_path), ["orders"])["orders"]
    assert theirs.sparkSession is other and mine.sparkSession is spark
    assert load_tables(spark, str(tmp_path), ["orders"])["orders"] is mine
    # the catalog does not keep a dropped session alive (pyspark itself
    # pins the newest session through its RDD.toDF patch: make another)
    gone = weakref.ref(other)
    del other, theirs
    spark.newSession()
    gc.collect()
    assert gone() is None


def test_load_tables_pins_confs_on_every_call(spark, tmp_path):
    """An externally built session (own SQL conf) gets the runtime pins
    on a hit as well as on the miss."""
    from rayforce_spark.session import load_tables

    _write(tmp_path / "orders.parquet", [1])
    ext = spark.newSession()
    pins = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    unpinned = dict.fromkeys(pins, "false")
    unpinned["spark.sql.session.timeZone"] = "America/New_York"
    first = None
    for _ in range(2):
        for k, v in unpinned.items():
            ext.conf.set(k, v)
        got = load_tables(ext, str(tmp_path), ["orders"])["orders"]
        assert {k: ext.conf.get(k) for k in pins} == pins
        assert first is None or got is first
        first = got


def test_load_tables_ts_micros_and_nanos_agree(spark, tmp_path):
    """Parquet timestamp drift: one events table written as
    TIMESTAMP(MICROS) and as TIMESTAMP(NANOS) loads to the same LongType
    i64-ns ``ts``, pre-1970 instants included."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from rayforce_spark.session import load_tables

    us = [-86_400_000_001, -1, 0, 1_700_000_000_123_456]
    got = {}
    for unit in ("us", "ns"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(pa.table({
            "event_id": pa.array(range(len(us)), pa.int64()),
            "ts": pa.array(us, pa.timestamp("us")).cast(pa.timestamp(unit)),
        }), d / "events.parquet")
        stored = pq.ParquetFile(d / "events.parquet").schema.column(1)
        assert {"us": "micro", "ns": "nano"}[unit] in str(
            stored.logical_type).lower()
        ev = load_tables(spark, str(d), ["events"])["events"]
        assert ev.schema["ts"].dataType == LongType()
        got[unit] = [r.ts for r in ev.orderBy("event_id").collect()]
    assert got["us"] == got["ns"] == [u * 1000 for u in us]
