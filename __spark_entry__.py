"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every query here routes through the rayforce_spark package — this file is
the driver-facing index of SURVEY.md §2 operator coverage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rayforce_spark import (
    A,
    K,
    asof_join,
    in_,
    inner_join,
    insert,
    left_join,
    rank,
    select,
    update,
    upsert,
    window_join,
    within,
    xrank,
)
from rayforce_spark.operators.order import bin_, top_k
from rayforce_spark.operators.sets import anti, except_, sect, semi, union
from rayforce_spark.session import load_tables

NS_5MIN = 300_000_000_000


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1 shape through the engine's select verb (the reference's
    `(select {… from: lineitem where: … by: …})`, ref core/query.c:607).
    """
    t = load_tables(spark, "/root/testdata/sf0.001", ["lineitem"])
    return select(
        t["lineitem"],
        {
            "sum_qty": A.sum_("l_quantity"),
            "sum_base_price": A.sum_("l_extendedprice"),
            "sum_disc_price": A.sum_(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ),
            "avg_qty": A.avg("l_quantity"),
            "avg_price": A.avg("l_extendedprice"),
            "avg_disc": A.avg("l_discount"),
            "count_order": A.count(),
        },
        where=F.col("l_shipdate") <= "1998-09-02",
        by=["l_returnflag", "l_linestatus"],
    )


def _t(spark: SparkSession, sf_dir: str, *names: str):
    tabs = load_tables(spark, sf_dir, list(names))
    return [tabs[n] for n in names]


# ---------------------------------------------------------------------------
# queries: one entry per implemented SURVEY §2 operator
# ---------------------------------------------------------------------------

def q_groupby_sum(spark, sf):
    # bench-only H2O Q1 shape (correctness covered by groupby_highcard /
    # tpch_q1; the driver gate caps at 50 queries, so near-duplicate
    # group-by variants live here for bench.py, not in QUERIES)
    (li,) = _t(spark, sf, "lineitem")
    return select(li, {"sum_qty": A.sum_("l_quantity")}, by="l_returnflag")


def q_groupby_multikey(spark, sf):
    # bench-only H2O Q2 shape (correctness covered by tpch_q1)
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {"sum_qty": A.sum_("l_quantity"), "n": A.count()},
        by=["l_returnflag", "l_linestatus"],
    )


def q_groupby_stats(spark, sf):
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {
            "avg_price": A.avg("l_extendedprice"),
            "min_disc": A.min_("l_discount"),
            "max_tax": A.max_("l_tax"),
            "med_qty": A.med("l_quantity"),
            "dev_price": A.dev("l_extendedprice"),
            "n_parts": A.count_distinct("l_partkey"),
            # H2O Q6 shape folded in: arithmetic over aggregates
            "range_qty": A.max_("l_quantity") - A.min_("l_quantity"),
        },
        by="l_returnflag",
    )


def q_tpch_q1(spark, sf):
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {
            "sum_qty": A.sum_("l_quantity"),
            "sum_disc_price": A.sum_(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ),
            "avg_qty": A.avg("l_quantity"),
            "count_order": A.count(),
        },
        where=F.col("l_shipdate") <= "1998-09-02",
        by=["l_returnflag", "l_linestatus"],
    )


def q_agg_arith(spark, sf):
    # bench-only H2O Q6 shape: max - min by key (correctness covered by
    # groupby_stats.range_qty)
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {"range_qty": A.max_("l_quantity") - A.min_("l_quantity")},
        by="l_returnflag",
    )


def q_flat_agg(spark, sf):
    (o,) = _t(spark, sf, "orders")
    return select(
        o,
        {
            "total": A.sum_("o_totalprice"),
            "n": A.count(),
            "mx": A.max_("o_totalprice"),
            "mn": A.min_("o_totalprice"),
            "md": A.med("o_totalprice"),
        },
    )


def q_project_filter(spark, sf):
    # row-level projection + filter, with the temporal scalar verbs
    # (year/month/day/cast-to-date) folded in on the same scan
    (o,) = _t(spark, sf, "orders")
    return select(
        o,
        {
            "k": F.col("o_orderkey"),
            "p2": F.col("o_totalprice") * 2,
            "y": F.year("o_orderdate"),
            "m": F.month("o_orderdate"),
            "d": F.dayofmonth("o_orderdate"),
            "dt": F.to_date("o_orderdate"),
        },
        where=F.col("o_orderstatus") == "O",
    )


def q_xbar_bucket(spark, sf):
    (o,) = _t(spark, sf, "orders")
    # avg_exact: decimal-space sum (order-independent, exact) + one double
    # division — bit-identical to the oracle's CAST(sum(DECIMAL) AS
    # DOUBLE)/count regardless of partition count. Plain double avg drifts
    # in the last ulps with partial-aggregation order and fails the
    # driver's value hash (r1/r2: round() cannot absorb that drift).
    return select(
        o,
        {"n": A.count(), "avg_price": A.avg_exact("o_totalprice")},
        by={"price_bucket": K.xbar(1000, F.col("o_totalprice"))},
    )


def q_update_where(spark, sf):
    # routed through the Rayfall front-end (rayforce_spark/rayfall): the
    # reader+evaluator parse the reference's own surface syntax
    # (ref core/parse.c, core/eval.c:934) and stage onto operators.query —
    # this gate run covers update-where + nested select projection verbatim
    from rayforce_spark.rayfall import eval_str

    (o,) = _t(spark, sf, "orders")
    return eval_str(
        """
        (select {o_orderkey: o_orderkey o_totalprice: o_totalprice
                 from: (update {o_totalprice: (* o_totalprice 1.1)
                                from: orders
                                where: (= o_orderstatus 'F)})})
        """,
        spark,
        {"orders": o},
    )


def q_rayfall_select(spark, sf):
    # The reference's full select surface end-to-end through the Rayfall
    # front-end in ONE gated query: where + by + multi-aggregate maps
    # (ref core/parse.c, core/eval.c:934-1005; docs queries/select.md).
    # The same string a reference user would type runs verbatim here.
    from rayforce_spark.rayfall import eval_str

    (li,) = _t(spark, sf, "lineitem")
    return eval_str(
        """
        (select {sum_qty: (sum l_quantity)
                 avg_price: (avg l_extendedprice)
                 max_disc: (max l_discount)
                 n: (count l_orderkey)
                 from: lineitem
                 where: (< l_quantity 30.0)
                 by: l_returnflag})
        """,
        spark,
        {"lineitem": li},
    )


def q_update_grouped(spark, sf):
    (li,) = _t(spark, sf, "lineitem")
    return update(li, {"grp_max": A.max_("l_quantity")}, by="l_orderkey").select(
        "l_orderkey", "l_linenumber", "grp_max"
    )


def q_distinct(spark, sf):
    # routed through the Rayfall front-end: projection + distinct verb
    from rayforce_spark.rayfall import eval_str

    (li,) = _t(spark, sf, "lineitem")
    return eval_str(
        "(distinct (select {l_returnflag: l_returnflag"
        " l_linestatus: l_linestatus from: lineitem}))",
        spark,
        {"lineitem": li},
    )


def q_ediv_emod(spark, sf):
    (li,) = _t(spark, sf, "lineitem")
    x = F.col("l_orderkey") - 3000  # exercise negatives
    return li.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        K.ediv(x, F.lit(7)).alias("d7"),
        K.emod(x, F.lit(7)).alias("m7"),
        K.ediv(x, F.lit(-7)).alias("dn7"),
        K.emod(x, F.lit(-7)).alias("mn7"),
        K.ediv(x, F.col("l_linenumber") - 1).alias("dz"),  # zero divisor rows
        K.fdiv("l_extendedprice", "l_quantity").alias("fd"),
    )


def q_null_semantics(spark, sf):
    """kdb null rules (SURVEY §1.2): nulls propagate through arithmetic
    but are SKIPPED by aggregates (ref core/ops.h:136-197, FOLD_ADD
    core/ops.h:141) — SQL NULL + ignorenulls aggregation matches. Nulls
    injected via nullif (the data itself has none)."""
    (li,) = _t(spark, sf, "lineitem")
    x = F.nullif(F.col("l_discount"), F.lit(0.0))
    masked = li.withColumn("xd", x)
    return select(
        masked,
        {
            "sum_d": A.sum_("xd"),          # skips nulls
            "avg_d": A.avg("xd"),           # skips nulls
            "n_all": A.count(),              # counts rows incl. null xd
            "n_d": A.count("xd"),           # non-null count (ray_cnt)
            "prop": A.sum_(F.col("xd") + 1),  # null propagates, then skipped
        },
        by="l_returnflag",
    )


# -- H2O db-benchmark shapes at varied key cardinality (BASELINE.md) --------

def q_groupby_highcard(spark, sf):
    # H2O Q3 shape: sum+avg by a high-cardinality key
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {"sum_qty": A.sum_("l_quantity"), "avg_disc": A.avg("l_discount")},
        by="l_partkey",
    )


def q_groupby_avg3(spark, sf):
    # H2O Q4 shape: avg of 3 value columns by a medium-cardinality key.
    # Bench-only since r4 (bench.py resolves q_* by name): its gate slot
    # went to time_of_day — the shape is a near-duplicate of groupby_stats
    # so a gate slot adds no coverage. (r4's assumed 50-query driver cap
    # proved wrong: the r5 gate carries every QUERIES entry.)
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {
            "a1": A.avg("l_quantity"),
            "a2": A.avg("l_extendedprice"),
            "a3": A.avg("l_discount"),
        },
        by="l_suppkey",
    )


def q_time_of_day(spark, sf):
    """Reference TIME type (i32 ms-of-day, ref core/ops.h:269): clock time
    extracted from event timestamps, bucketed to the hour — the tick-data
    "by time-of-day regardless of date" idiom (examples/asof.rfl).
    Covers ms_of_day (extract), time_from_ms (construct), and the
    HH:mm render, all JVM expressions on one scan."""
    (ev,) = _t(spark, sf, "events")
    ev = ev.withColumn("ms", K.ms_of_day("ts"))
    out = select(
        ev,
        {
            "n": A.count(),
            "min_ms": A.min_("ms"),
            "max_ms": A.max_("ms"),
            "sum_value": A.sum_exact("value"),
        },
        by={"hour": F.floor(F.col("ms") / F.lit(3_600_000)).cast("int")},
    )
    return out.withColumn(
        "hhmm",
        F.date_format(K.time_from_ms(F.col("hour") * 3_600_000), "HH:mm"),
    )


def q_groupby_sum3_highcard(spark, sf):
    # H2O Q5 shape: sum of 3 value columns by the highest-cardinality key
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {
            "s1": A.sum_("l_quantity"),
            "s2": A.sum_("l_extendedprice"),
            "s3": A.sum_("l_tax"),
        },
        by="l_orderkey",
    )


def q_groupby_manykeys(spark, sf):
    # H2O Q7 shape: sum + count grouped by many key columns
    (li,) = _t(spark, sf, "lineitem")
    return select(
        li,
        {"sum_qty": A.sum_("l_quantity"), "n": A.count()},
        by=["l_returnflag", "l_linestatus", "l_suppkey", "l_partkey"],
    )


def q_tpch_q3ish(spark, sf):
    # multi-join: dims broadcast, fact filtered at the scan
    c, o, li = _t(spark, sf, "customer", "orders", "lineitem")
    j = inner_join(
        inner_join(
            o.filter(F.col("o_orderdate") < "1998-01-01"),
            c.filter(F.col("c_mktsegment") == "BUILDING")
            .withColumnRenamed("c_custkey", "o_custkey"),
            "o_custkey",
        ),
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey",
    )
    return select(
        j,
        {"revenue": A.sum_(F.col("l_extendedprice") * (1 - F.col("l_discount")))},
        by=["o_orderkey", "o_orderpriority"],
    )


# -- joins (SURVEY §2.3) ----------------------------------------------------

def q_inner_join(spark, sf):
    o, c = _t(spark, sf, "orders", "customer")
    return inner_join(
        o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    ).select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


def q_left_join_dedup(spark, sf):
    o, li = _t(spark, sf, "orders", "lineitem")
    right = li.select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    return left_join(
        o.select("o_orderkey", "o_totalprice"), right, "o_orderkey",
        order_col=F.struct("l_linenumber", "l_quantity"),
    )


def _purchases_clicks(spark, sf):
    (ev,) = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return purchases, clicks


def q_asof_join(spark, sf):
    purchases, clicks = _purchases_clicks(spark, sf)
    return asof_join(purchases, clicks, on="user_id", asof="ts").select(
        "event_id", "user_id", K.ns_to_us("ts").alias("ts_us"), "value",
        "click_value",
    )


def q_window_join(spark, sf):
    purchases, clicks = _purchases_clicks(spark, sf)
    return window_join(
        purchases, clicks, on="user_id", time_col="ts",
        # constant ns offsets: window_join auto-routes to the
        # block-decomposed window_join_fixed plan (no pair enumeration);
        # event_id is a real key, so no synthetic-id checkpoint
        lo=-NS_5MIN, hi=NS_5MIN, row_id_col="event_id",
        aggs={
            "min_click": A.min_("click_value"),
            "max_click": A.max_("click_value"),
            "n_click": A.count("click_value"),
        },
    ).select(
        "event_id", "user_id", K.ns_to_us("ts").alias("ts_us"),
        "min_click", "max_click", "n_click",
    )


def q_insert_upsert(spark, sf):
    """Both mutation verbs in one gated row (r9 consolidation back to the
    driver's 50-slot cap — the r6 pattern): insert appends rows
    (ref core/update.c:168), upsert updates-on-key / appends-on-miss
    (ref core/update.c:414, leading-n key). Tagged common schema so the
    oracle replays each leg exactly."""
    (o,) = _t(spark, sf, "orders")
    (c,) = _t(spark, sf, "customer")
    ins = insert(
        o.filter(F.col("o_orderstatus") == "O"),
        o.filter(F.col("o_orderstatus") == "F"),
    ).select(
        F.lit("insert").alias("op"),
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("sval"),
        F.lit(None).cast("double").alias("dval"),
    )
    rows = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.lit(0.0)
    )
    ups = upsert(c, rows, n_keys=1).select(
        F.lit("upsert").alias("op"),
        F.col("c_custkey").alias("key"),
        F.lit(None).cast("string").alias("sval"),
        F.col("c_acctbal").alias("dval"),
    )
    return ins.unionByName(ups)


# -- set / membership (SURVEY §2.6) -----------------------------------------

def q_semi_anti(spark, sf):
    c, o = _t(spark, sf, "customer", "orders")
    keys = o.select(F.col("o_custkey").alias("c_custkey"))
    s = semi(c, keys, "c_custkey").select("c_custkey").withColumn(
        "has_orders", F.lit(True)
    )
    a = anti(c, keys, "c_custkey").select("c_custkey").withColumn(
        "has_orders", F.lit(False)
    )
    return s.unionByName(a)


def q_except_sect_union(spark, sf):
    c, s = _t(spark, sf, "customer", "supplier")
    a = c.select(F.col("c_nationkey").alias("k"))
    b = s.select(F.col("s_nationkey").alias("k"))
    return (
        except_(a, b).withColumn("op", F.lit("except"))
        .unionByName(sect(a, b).withColumn("op", F.lit("sect")))
        .unionByName(union(a, b).withColumn("op", F.lit("union")))
    )


def q_in_within(spark, sf):
    (ev,) = _t(spark, sf, "events")
    return ev.filter(
        in_("event_type", ["click", "view"]) & within("value", 10.0, 50.0)
    ).select("event_id", "event_type", "value")


# -- ordering / ranking (SURVEY §2.5) ---------------------------------------

def q_rank_xrank(spark, sf):
    # both verbs in their partitioned (distributed) form — an unpartitioned
    # Window.orderBy is a single-partition sort, a scale-killer; the global
    # form stays available for small-result use (order.py docstring)
    # r6: also gates bin/binr here (former bin_bucket entry) — boundary
    # bucketing is a scan-stage expression, so it rides the same scan
    from rayforce_spark.operators.order import binr

    (c,) = _t(spark, sf, "customer")
    bounds = [0, 2500, 5000, 7500]
    ranked = rank(c, ["c_acctbal", "c_custkey"], by=["c_mktsegment"])
    return xrank(
        ranked, 4, ["c_acctbal", "c_custkey"], by=["c_mktsegment"]
    ).select(
        "c_custkey", "rank", "bucket",
        bin_(bounds, "c_acctbal").alias("bal_bin"),
        binr(bounds, "c_acctbal").alias("bal_binr"),
    )


def q_top_k_per_group(spark, sf):
    (o,) = _t(spark, sf, "orders")
    return top_k(
        o, ["o_totalprice", "o_orderkey"], 3, by=["o_orderstatus"]
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# -- scalar verbs (SURVEY §2.7) ---------------------------------------------

def q_string_ops(spark, sf):
    # r9: the former array_ops row (raze/enlist/map-over-array verbs,
    # ref core/compose.c:1096,374 + core/iter.c:585) rides this same
    # part scan — count/distinct/contains over the split words array
    # plus map_array (the `map` verb) on the last element — so the
    # registry stays at the driver's 50-slot cap without losing the
    # verbs' oracle row (they fell off the gate in r8 at position 51).
    from rayforce_spark.operators.iterate import map_array

    (p,) = _t(spark, sf, "part")
    words = K.split("p_name", " ")
    return p.select(
        "p_partkey",
        words[0].alias("word0"),
        K.format_("%s:%d", F.col("p_brand"), F.col("p_size")).alias("tag"),
        K.as_("c8", F.col("p_size")).alias("size_str"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.upper("p_type").alias("type_upper"),
        # kdb glob `like` verbs folded in on the same scan
        K.like("p_name", "*widget*").alias("is_widget"),
        K.like("p_name", "[cs]*").alias("starts_cs"),
        K.like("p_brand", "Brand#1?").alias("brand_1x"),
        # array verbs (former array_ops row)
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.array_contains(words, "green").alias("has_green"),
        F.element_at(map_array(F.upper, words), -1).alias("last_upper"),
    )


def q_xbar_time(spark, sf):
    (ev,) = _t(spark, sf, "events")
    day = K.xbar_time(86400, K.ns_to_timestamp("ts"))
    return select(
        ev,
        {"n": A.count(), "sum_value": A.sum_("value")},
        by={"day": F.to_date(day)},
    )


def q_moving_window(spark, sf):
    """Rolling analytics the reference expresses via scan/bin/window-join
    idioms (SURVEY §2.5): lag/lead, a 5-row trailing moving average and
    max, and per-key row numbering — all one Window spec, one shuffle on
    the partition key."""
    from pyspark.sql import Window

    (ev,) = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trail = w.rowsBetween(-4, Window.currentRow)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.avg("value").over(trail).alias("mavg5"),
        F.max("value").over(trail).alias("mmax5"),
        F.row_number().over(w).alias("rn"),
        # scan = running fold (ref core/iter.c:1212) on the same spec
        F.sum("value").over(cum).alias("cum_value"),
    )


def q_sessionize(spark, sf):
    """Gap-based batch sessionization (the offline twin of the streaming
    sessionize operator): 30-minute gap over the events table, one row
    per (user, session)."""
    from rayforce_spark.datapipe import sessionize_batch

    (ev,) = _t(spark, sf, "events")
    gap_ns = 1800 * 1_000_000_000
    return sessionize_batch(
        ev, key_col="user_id", ts_col="ts", gap=gap_ns,
        # decimal-space sum: exact in any partial-aggregation order, one
        # final cast to double — bit-identical to the oracle (see
        # q_xbar_bucket / A.avg_exact for why round() was not enough)
        aggs={"sum_value":
              F.sum(F.col("value").cast("decimal(18,6)")).cast("double")},
        tiebreak=["event_id"],
    ).select(
        "user_id", "session_seq",
        # report bounds in µs: DuckDB reads the TIMESTAMP(NANOS) parquet at
        # µs precision, and integer floor-division commutes with min/max
        # (float division would lose precision on 19-digit ns longs)
        F.expr("session_start div 1000").alias("start_us"),
        F.expr("session_end div 1000").alias("end_us"),
        "n_events",
        "sum_value",
    )


def q_quantiles(spark, sf):
    """Exact interpolated quantiles per group (generalized med).

    r12: the three probabilities ride ONE ``percentile(col, array(...))``
    aggregate (A.quantiles) instead of three independent percentile
    functions — one value buffer and one sort per group instead of three
    of each (same Catalyst expression, element-identical values; the
    unpacking projection restores the declared scalar schema)."""
    (li,) = _t(spark, sf, "lineitem")
    q3 = select(
        li,
        {"__q": A.quantiles("l_extendedprice", [0.25, 0.75, 0.99]),
         "n": A.count()},
        by="l_returnflag",
    )
    return q3.select(
        "l_returnflag",
        F.col("__q")[0].alias("p25"),
        F.col("__q")[1].alias("p75"),
        F.col("__q")[2].alias("p99"),
        "n",
    )


def q_scan_cumsum(spark, sf):
    # bench-only shape: scan = running fold (ref core/iter.c:1212) ->
    # cumulative window frame (correctness covered by moving_window.cum_value)
    from pyspark.sql import Window

    (ev,) = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.sum("value").over(w).alias("cum_value")
    )


def q_cube_pivot(spark, sf):
    """Grouping sets + pivot in one gate (r6 registry consolidation, so
    every entry fits the driver's 50-slot check): the CUBE result carries
    the pivoted per-linestatus sums left-joined on l_returnflag — the
    rollup rows with a NULL returnflag keep NULL pivot columns (plain,
    not null-safe, join equality on both engines)."""
    from rayforce_spark.operators.query import pivot, select_cube

    (li,) = _t(spark, sf, "lineitem")
    cube = select_cube(
        li,
        {"sum_qty": A.sum_("l_quantity"), "n": A.count()},
        by=["l_returnflag", "l_linestatus"],
    )
    piv = pivot(
        li, by="l_returnflag", pivot_col="l_linestatus",
        values=["O", "F"], agg=A.sum_("l_quantity"),
    ).select(
        "l_returnflag",
        F.col("O").alias("piv_o"),
        F.col("F").alias("piv_f"),
    )
    return cube.join(F.broadcast(piv), "l_returnflag", "left")


# -- storage (SURVEY §2.1) --------------------------------------------------

def q_storage_roundtrip(spark, sf):
    """set/get-splayed + set/get-parted + read/write-csv in ONE gate
    (r6 consolidation, csv added r7): write each layout to a temp dir,
    read it back, and aggregate integer-exactly (bigint key sums — no
    float accumulation order to worry about) onto a harmonized
    (layout, key, n, sum_k) schema. The csv leg goes through the
    reference's type-vector schema contract (sources/csv.py,
    ref core/io.c:670/946), so a parse/format regression flips the row.

    r12: the six legs are INDEPENDENT write+read round trips (disjoint
    temp dirs, different tables), each a small job that leaves most of
    local[32] idle — they now run from a 3-worker thread pool so the
    next leg's tasks back-fill the current leg's tail (optimization
    guide §2.6 overlap-independent-jobs). Each leg's plan and the
    returned union are byte-identical to the sequential spelling; only
    wall-clock changes (measured warm engine-only: 2.22 s sequential →
    1.62 s pooled; the tail is the bucketed saveAsTable leg's
    catalog round trip, which no pool can hide)."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from rayforce_spark.sources import (
        get_bucketed,
        get_parted,
        get_splayed,
        read_csv,
        read_jsonl,
        set_bucketed,
        set_parted,
        set_splayed,
        write_csv,
        write_jsonl,
    )
    from rayforce_spark.streaming import Journal, replay_journal

    o, ev = _t(spark, sf, "orders", "events")
    (na,) = _t(spark, sf, "nation")
    (cu,) = _t(spark, sf, "customer")
    (docs,) = _t(spark, sf, "documents")

    def leg_splayed():
        p1 = tempfile.mkdtemp(prefix="rf_splay_") + "/orders"
        set_splayed(o, p1)
        return select(
            get_splayed(spark, p1),
            {"n": A.count(), "sum_k": A.sum_("o_orderkey")},
            by="o_orderstatus",
        ).select(
            F.lit("splayed").alias("layout"),
            F.col("o_orderstatus").alias("key"), "n", "sum_k",
        )

    def leg_parted():
        p2 = tempfile.mkdtemp(prefix="rf_part_") + "/events"
        set_parted(ev, p2, "date",
                   part_expr=F.to_date(K.ns_to_timestamp("ts")))
        return select(
            get_parted(spark, p2),
            {"n": A.count(), "sum_k": A.sum_("event_id")},
            by="date",
        ).select(
            F.lit("parted").alias("layout"),
            F.col("date").cast("string").alias("key"), "n", "sum_k",
        )

    def leg_csv():
        p3 = tempfile.mkdtemp(prefix="rf_csv_") + "/nation"
        write_csv(na.select("n_nationkey", "n_regionkey", "n_name"), p3)
        c = read_csv(
            spark, p3,
            ["n_nationkey", "n_regionkey", "n_name"],
            ["i64", "i64", "symbol"],
        )
        return select(
            c, {"n": A.count(), "sum_k": A.sum_("n_nationkey")},
            by="n_regionkey",
        ).select(
            F.lit("csv").alias("layout"),
            F.col("n_regionkey").cast("string").alias("key"), "n", "sum_k",
        )

    def leg_bucketed():
        # bucketed leg (r7): the co-located-join layout goes through the
        # catalog writer/reader; the aggregation on the bucket key runs
        # on the bucket-pre-shuffled scan (zero-Exchange plan pinned by
        # test_bucketed_join_no_exchange — here the VALUES are gated too)
        p4 = tempfile.mkdtemp(prefix="rf_bkt_") + "/customer"
        # re-entrancy: each call writes a fresh temp location, so drop
        # any prior catalog entry pointing at the old one first
        spark.sql("DROP TABLE IF EXISTS rf_gate_bucketed_customer")
        set_bucketed(
            cu.select("c_custkey", "c_mktsegment"),
            "rf_gate_bucketed_customer",
            "c_mktsegment", n_buckets=4, path=p4,
        )
        return select(
            get_bucketed(spark, "rf_gate_bucketed_customer"),
            {"n": A.count(), "sum_k": A.sum_("c_custkey")},
            by="c_mktsegment",
        ).select(
            F.lit("bucketed").alias("layout"),
            F.col("c_mktsegment").alias("key"), "n", "sum_k",
        )

    def leg_journal():
        # journal leg (r7): append-only JSON-lines log, distributed
        # write + batch replay (the reference's hopen+write / read loop)
        p5 = tempfile.mkdtemp(prefix="rf_jrnl_") + "/events"
        jschema = "event_id long, event_type string"
        Journal(p5, jschema).append_df(ev.select("event_id", "event_type"))
        return select(
            replay_journal(spark, p5, jschema),
            {"n": A.count(), "sum_k": A.sum_("event_id")},
            by="event_type",
        ).select(
            F.lit("journal").alias("layout"),
            F.col("event_type").alias("key"), "n", "sum_k",
        )

    def leg_jsonl():
        # jsonl leg (r9): the LLM-corpus interchange format —
        # distributed write of the documents table, explicit
        # type-vector read back (sources/jsonl.py)
        p6 = tempfile.mkdtemp(prefix="rf_jsonl_") + "/documents"
        write_jsonl(docs.select("doc_id", "lang"), p6)
        return select(
            read_jsonl(spark, p6, ["doc_id", "lang"], ["i64", "symbol"]),
            {"n": A.count(), "sum_k": A.sum_("doc_id")},
            by="lang",
        ).select(
            F.lit("jsonl").alias("layout"),
            F.col("lang").alias("key"), "n", "sum_k",
        )

    legs = [leg_splayed, leg_parted, leg_csv, leg_bucketed, leg_journal,
            leg_jsonl]
    with ThreadPoolExecutor(max_workers=3) as pool:
        s1, s2, s3, s4, s5, s6 = list(pool.map(lambda f: f(), legs))
    return (s1.unionByName(s2).unionByName(s3)
            .unionByName(s4).unionByName(s5).unionByName(s6))


# -- datapipe: dedup / similarity / text / multimodal -----------------------

def q_dedup_exact(spark, sf):
    """Exact-dedup family chain (r7: grows the C4-style segment-level
    leg — Raffel et al. 2020 §2.2's span dedup, word-chunk segmenter
    because the synthetic corpus has no newlines): corpus-global
    3-word-segment dedup rewrites each doc to its surviving segments,
    then doc-level exact dedup keeps the min doc_id per (lang, source).
    clean_fp/n_clean_tok pin the reassembled text values."""
    from rayforce_spark.datapipe import dedup_exact, dedup_segments

    (d,) = _t(spark, sf, "documents")
    seg = dedup_segments(d, "text", "doc_id", words_per_segment=3)
    return dedup_exact(seg, ["lang", "source"], id_col="doc_id").select(
        "doc_id", "lang", "source",
        F.md5("text").alias("clean_fp"),
        F.size(F.split("text", " ")).alias("n_clean_tok"),
    )


def q_dedup_exact_bench(spark, sf):
    # bench series continuity: the pre-r7 doc-level-only shape (the
    # gated query grew the segment-dedup chain; this keeps the bench
    # row measuring the same operator across rounds)
    from rayforce_spark.datapipe import dedup_exact

    (d,) = _t(spark, sf, "documents")
    return dedup_exact(d, ["lang", "source"], id_col="doc_id").select(
        "doc_id", "lang", "source"
    )


def q_dedup_jaccard(spark, sf):
    from rayforce_spark.datapipe import jaccard_dup_pairs

    (d,) = _t(spark, sf, "documents")
    return jaccard_dup_pairs(
        d, "text", "doc_id", shingle_k=1, threshold=0.8
    ).withColumn("jaccard", F.round("jaccard", 6))


def q_dedup_clusters(spark, sf):
    """Connected components over the exact-Jaccard duplicate pairs:
    (doc_id, cluster_id=min id in the component) for every doc that has
    at least one near-duplicate. The operator is the pair→corpus-dedup
    bridge (datapipe.dedup.dedup_clusters, min-label propagation with
    per-round localCheckpoint); the oracle replays it as a DuckDB
    recursive CTE (min reachable id over the symmetrized pair graph)."""
    from rayforce_spark.datapipe import dedup_clusters, jaccard_dup_pairs

    (d,) = _t(spark, sf, "documents")
    pairs = jaccard_dup_pairs(d, "text", "doc_id", shingle_k=1, threshold=0.8)
    return dedup_clusters(pairs)


def _recall_gate(exact: DataFrame, approx: DataFrame, keys: list[str],
                 min_pct: int) -> DataFrame:
    """Release ``exact`` only if ``approx`` recovers >= ``min_pct``% of its
    rows (matched on ``keys``); otherwise return an empty result so the
    driver's row-count check goes red.

    This is how the production (approximate) configs of the LSH/IVF family
    get a driver-gated recall bar (judge r5 item 5): the gated OUTPUT stays
    the exact result (hash-checked against the SQL oracle), while the
    release condition re-runs the production config in the same job and
    measures its recall against that exact result. Fully distributed: one
    left join + one count aggregate, re-attached via a 1-row broadcast
    hash join on a constant key (no collect, no cartesian/BNLJ).

    Both inputs feed TWO plan sites (the recall count and the release
    join), and AQE's broadcasts defeat exchange reuse — lazy
    localCheckpoints materialize each expensive pipeline once (r9:
    dedup_embedding's exact all-pairs leg was running twice)."""
    exact = exact.localCheckpoint(eager=False)
    approx = approx.localCheckpoint(eager=False)
    marked = approx.select(*keys).distinct().withColumn("__hit", F.lit(1))
    ok = (
        exact.join(marked, keys, "left")
        .agg(F.count("__hit").alias("__h"), F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__h") * 100 >= F.col("__n") * min_pct)
        .select(F.lit(1).alias("__one"))
    )
    return (
        exact.withColumn("__one", F.lit(1))
        .join(F.broadcast(ok), "__one", "inner")
        .drop("__one")
    )


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dup pairs, oracle-gated: bands=num_perm (one
    signature value per band) makes any pair sharing ANY of the 64 minhash
    coordinates a candidate — P(miss) <= (1-s)^64 < 6e-20 at the 0.5
    threshold, so with the exact-Jaccard verify the output IS the exact
    Jaccard>=0.5 pair set DuckDB computes.

    The PRODUCTION tuning (bands=16 — 4-row bands, the ~20x-smaller
    candidate volume bench.py measures) runs in the same job as a recall
    gate: measured 25/25 (sf0.01) and 256/256 (sf0.1) exact pairs
    recovered with the expression-fold signature; the result is
    released only at >= 90%, so a recall regression flips this driver
    row red."""
    from rayforce_spark.datapipe import minhash_lsh_pairs
    from rayforce_spark.datapipe.dedup import fanout, with_shingle_hashes

    (d,) = _t(spark, sf, "documents")
    # r13: ONE checkpointed shingle-hash frame for both pipelines. The
    # exact and production runs each shingled the corpus twice
    # (signature + verify side), 4 passes total; the shared lazy
    # localCheckpoint shingles once and every consumer reads the
    # materialized 8-byte hash arrays locally (no exchange). Pair values
    # are identical: with_shingle_hashes is deterministic, so sharing vs
    # recomputing cannot change any Jaccard. Both legs run the one
    # signature family, the expression fold.
    sh = (
        with_shingle_hashes(
            fanout(d.select(F.col("doc_id").alias("__id"),
                            F.col("text").alias("__text"))),
            "__text", 3, "__bh",
        )
        .select("__id", "__bh")
        .localCheckpoint(eager=False)
    )
    exact = minhash_lsh_pairs(
        d, "text", "doc_id", num_perm=64, bands=64, shingle_k=3,
        threshold=0.5, shingles=sh,
    ).withColumn("jaccard", F.round("jaccard", 6))
    prod = minhash_lsh_pairs(
        d, "text", "doc_id", num_perm=64, bands=16, shingle_k=3,
        threshold=0.5, shingles=sh,
    )
    return _recall_gate(exact, prod, ["id_a", "id_b"], 90)


def q_dedup_minhash_bench(spark, sf):
    # production LSH tuning (bands=16 -> 4-row bands): the perf-path shape.
    # The oracle-gated q_dedup_minhash runs bands=num_perm for exact
    # recall, which inflates the candidate set ~20x — correct for the
    # gate, wrong for the bench (r2 regression: 2.7s -> 15.1s).
    # The signature is the expression fold, the only family since the
    # r11 single-expr restructure: the within-JVM A/B
    # (scripts/minhash_ab.py) measured the full row at 0.93-0.96 s for
    # the fold vs ~1.08 s for the Arrow/numpy family it replaced, whose
    # "3x faster" figure measured the signature stage in isolation.
    from rayforce_spark.datapipe import minhash_lsh_pairs

    (d,) = _t(spark, sf, "documents")
    # NO explicit repartition here (r11): minhash_lsh_pairs' own
    # fanout() already widens the 1-split cached source to cluster
    # parallelism, and the old cores/2 repartition on top of it planned
    # TWO exchanges — the r10 bench flag's real component
    # (scripts/minhash_ab.py, within one JVM: double-exchange 1.08 s vs
    # single 0.93-0.96 s min-of-5 interleaved; the xxhash64 band keys
    # measured free, 0.93 vs 0.96 against 32-bit hash()). The old
    # cores/2-beats-32-way sweep predates the slim verify restructure
    # and no longer reproduces.
    d = d.select("doc_id", "text")
    # shingles are recomputed on the verify side rather than shared
    # through an exchange: since the r7 slim-pair verify, moving every
    # doc's array costs more than the scan-stage recompute — measured
    # min-of-6 x2 runs: recompute 0.55-0.71 s vs shared 0.89-1.07 s at
    # sf0.1
    return minhash_lsh_pairs(
        d, "text", "doc_id", num_perm=64, bands=16, shingle_k=3,
        threshold=0.5,
    )


def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs, oracle-gated: the gated config uses the
    md5-derived 60-bit token hash (portable to plain SQL) so DuckDB can
    rebuild the exact fingerprints; bands=9 > max_hamming=8 makes the
    pigeonhole candidate step exact-recall, so the output equals the
    exhaustive hamming<=8 pair set the oracle computes. Production keeps
    the faster xxhash64 token hash (identical plan shape).

    Why this family has NO production recall gate (unlike minhash /
    embedding-LSH / knn, r6): simhash's banding is pigeonhole-EXACT at
    any bands > max_hamming — there is no recall-losing production
    config to measure (simhash_dup_pairs raises on bands <= max_hamming
    rather than silently dropping pairs), and swapping md5 for xxhash64
    changes the fingerprint definition, not the recall, so a cross-hash
    'recall' would compare two different exact answers."""
    from rayforce_spark.datapipe import simhash_dup_pairs

    (d,) = _t(spark, sf, "documents")
    return simhash_dup_pairs(d, "text", "doc_id", max_hamming=8,
                             token_hash="md5")


def q_dedup_embedding(spark, sf):
    """Embedding cosine near-dup: the all-pairs result is the oracle-gated
    output, and the PRODUCTION hyperplane-LSH path (planes=2, tables=12 —
    real bucketing, unlike the degenerate planes=1/tables=16 config r5
    gated, which ADVICE r5 showed was costlier than brute force) runs in
    the same job as a recall gate. Measured: 59/59 recovered at sf0.01,
    920/920 at sf0.1; released only at >= 90%. The LSH plan shape (bucket
    join, no cartesian/BNLJ) is asserted by scripts/explain_audit.py."""
    from rayforce_spark.datapipe import embedding_dup_pairs
    from rayforce_spark.datapipe.similarity import embedding_dup_pairs_lsh

    (e,) = _t(spark, sf, "embeddings")
    # impl="block" (r9): the cogrouped block scorer — BIT-equal to the
    # expression path (pinned over every all-pairs cosine by
    # test_embedding_pandas_impl_bit_equal), and never materializes the
    # n² pair table (the r6 per-pair Arrow scorer shipped ~2 GB of pair
    # vectors through Arrow at sf0.1 for a 920-row result; exact leg
    # 17 s -> ~3 s)
    exact = embedding_dup_pairs(
        e, "embedding", "vec_id", threshold=0.4, impl="block"
    ).withColumn("cos", F.round("cos", 6))
    prod = embedding_dup_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.4, dim=64, planes=2, tables=12,
        impl="block",  # r9: per-bucket numpy verify — vectors ship once
        # per table, not once per candidate pair (bit-equal, pinned)
    )
    return _recall_gate(exact, prod, ["id_a", "id_b"], 90)


def q_knn_cosine(spark, sf):
    from rayforce_spark.datapipe import knn_cosine

    (e,) = _t(spark, sf, "embeddings")
    return knn_cosine(
        e, e.filter(F.col("vec_id") < 3), "embedding", "vec_id", k=5
    ).withColumn("cos", F.round("cos", 6))


def q_knn_cosine_bench(spark, sf):
    # production scoring path: plain double fold (no per-element
    # round+cast) — the fixed-point integer cosine exists for
    # cross-engine oracle exactness and costs ~1/3 more per pair
    # (r3->r4 bench regression); the gate keeps score="fixed".
    from rayforce_spark.datapipe import knn_cosine

    (e,) = _t(spark, sf, "embeddings")
    return knn_cosine(
        e, e.filter(F.col("vec_id") < 3), "embedding", "vec_id", k=5,
        score="double",
    ).withColumn("cos", F.round("cos", 6))


def q_knn_recall(spark, sf):
    """Production-config ANN recall gate (replaces the r5 recall-exact
    knn_lsh/knn_ivf rows; judge r5 item 5): the OUTPUT is brute-force
    top-5 (hash-checked against _KNN_ORACLE), released only if BOTH
    production approximate paths recover enough of the exact
    (query, neighbor) pairs in the same job:

    - hyperplane LSH, planes=2 / tables=8 (4 buckets per table at dim 64;
      the gate corpora's true top-5 cosines go as low as +0.26, so
      p_match = (1 - arccos(0.26)/pi)^2 ~ 0.34 per table and 8 tables
      give ~0.96 per neighbor): measured 50/50 at sf0.01 AND sf0.1 over
      10 query vectors, bound 85% (7-pair margin).
    - IVF, nlist=8 / nprobe=4 (half the lists probed): measured 38/50
      (sf0.01) and 41/50 (sf0.1), bound 65% (5-pair margin).

    10 query vectors x k=5 = 50 exact pairs, so the recall estimate is
    flake-resistant if the driver regenerates the corpus. A recall
    regression in either family empties the result and flips this
    driver row red. The recall-EXACT configs (planes=1/tables=24,
    nprobe=nlist) remain pytest-covered in tests/test_datapipe.py."""
    from rayforce_spark.datapipe import knn_cosine, knn_ivf, knn_lsh

    (e,) = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = knn_cosine(e, q, "embedding", "vec_id", k=5).withColumn(
        "cos", F.round("cos", 6))
    lsh = knn_lsh(e, q, "embedding", "vec_id", k=5, dim=64,
                  planes=2, tables=8)
    ivf = knn_ivf(e, q, "embedding", "vec_id", k=5,
                  nlist=8, nprobe=4, iters=3)
    keys = ["query_id", "neighbor_id"]
    return _recall_gate(_recall_gate(exact, lsh, keys, 85), ivf, keys, 65)


def q_text_quality(spark, sf):
    """Per-document text analysis in one gate (r6: absorbs the former
    text_analysis entry; r7: grows the Gopher-style repetition metrics —
    Rae et al. 2021 arXiv:2112.11446 §A1.1 adapted to word-occurrence
    fractions): token count, fingerprint, length, language id, quality
    score, most-common-2-gram fraction, duplicate-3-gram fraction, and
    the combined repetition gate. The repetition stats run in an Arrow
    batch (r8: one tokenization pass per doc, integer stats only
    — division/round stay JVM; pinned bit-equal to the zero-shuffle
    expression fold by test_repetition_pandas_impl_bit_equal, which
    was the r7 gate's slowest row at 71 s/sf0.1); everything else
    stays JVM-expression columns over one scan."""
    from rayforce_spark.datapipe import (
        doc_fingerprint,
        language_id,
        quality_score,
        repetition_metrics,
        token_count,
    )

    (d,) = _t(spark, sf, "documents")
    rep = repetition_metrics(F.col("text"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        doc_fingerprint(F.col("text")).alias("fp"),
        F.length("text").alias("len_chars"),
        language_id(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("quality"),
        rep["top2gram_frac"].alias("top2gram_frac"),
        rep["dup3gram_frac"].alias("dup3gram_frac"),
        rep["rep_ok"].alias("rep_ok"),
    )


def q_text_quality_bench(spark, sf):
    # bench series continuity: the pre-r6 4-column shape (BASELINE_CMP
    # trend comparability) — the gated query gained lang/quality columns
    from rayforce_spark.datapipe import doc_fingerprint, token_count

    (d,) = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        doc_fingerprint(F.col("text")).alias("fp"),
        F.length("text").alias("len_chars"),
    )


def q_ngram_bigrams(spark, sf):
    """Corpus top-50 bigram frequencies (datapipe.text.ngram_counts):
    explode + one hash-shuffle; ties resolved by the (count desc, ngram)
    total order so the limit is deterministic cross-engine."""
    from rayforce_spark.datapipe import ngram_counts

    (d,) = _t(spark, sf, "documents")
    return ngram_counts(d, "text", n=2, top_k=50)


def q_quality_filter(spark, sf):
    """Curation-filter chain in ONE gate (r7): split a deterministic 1%
    eval holdout (doc_id % 97 == 0), then three public-recipe legs in
    sequence —
    1. per-language 0.5 cume_dist quality floor
       (datapipe.text.filter_by_quality_quantile — count-based cutoff,
       integer-exact and tie-sane);
    2. CCNet-style LM-score floor (Wenzek et al. 2020 arXiv:1911.00359):
       corpus-trained add-0.1 bigram LM (datapipe.text.bigram_lm_score),
       drop each language's worst-scoring 10% (perplexity outliers;
       no-bigram docs pass with null score);
    3. decontamination, the GPT-3 appendix-C n-gram overlap rule (Brown
       et al. 2020 arXiv:2005.14165; datapipe.decontam — eval grams
       broadcast, the corpus never shuffles; n=3 because the synthetic
       word-soup corpus has no verbatim 8-gram leakage)."""
    from rayforce_spark.datapipe import (
        decontaminate,
        filter_by_quality_quantile,
    )
    from rayforce_spark.datapipe.text import filter_by_lm_quantile

    (d,) = _t(spark, sf, "documents")
    train = d.filter(F.col("doc_id") % 97 != 0)
    ev = d.filter(F.col("doc_id") % 97 == 0)
    # the quantile-filter output feeds FOUR plan sites inside
    # bigram_lm_score (unigram/bigram model aggs, the per-doc bigram
    # stream, and the score re-attach join) — materialize the window
    # pipeline once instead of once per site
    kept = filter_by_quality_quantile(
        train, "text", q=0.5, by="lang").localCheckpoint(eager=False)
    lm_kept = filter_by_lm_quantile(kept, "text", "doc_id", q=0.9,
                                    by="lang", keep_score=True)
    return decontaminate(lm_kept, ev, "text", "doc_id", n=3).select(
        "doc_id", "lang", "lm_nll"
    )


def q_pii_scrub(spark, sf):
    """PII redaction (datapipe.text.scrub_pii) over text salted with a
    per-row synthetic email + IP, so every row exercises the patterns;
    the oracle replays the same RE2-compatible regex chain in DuckDB."""
    from rayforce_spark.datapipe import scrub_pii

    (d,) = _t(spark, sf, "documents")
    salted = F.concat(
        F.col("text"), F.lit(" contact doc"), F.col("doc_id"),
        F.lit("@example.com from 10.0.0."), F.col("doc_id") % 256,
    )
    return d.select("doc_id", scrub_pii(salted).alias("scrubbed"))


def q_sample_pipeline(spark, sf):
    """The curation-sampling layer as ONE chained gate (r6: merges the
    former hash_sample + cap_per_key entries so both get a driver row —
    cap_per_key never had one in r1-r5): deterministic 30% keep by doc_id
    → train/val/test folds (salt=11, DIFFERENT from the sample salt so all
    three fold arms are live — ADVICE r5 flagged the salt-7/salt-7 config
    as fold-degenerate) → at most 30 docs per language (cap_per_key,
    doc_id is unique so the cap is tie-break invariant). The sampling
    stage is pure scan-stage bigint arithmetic (zero exchanges, audited);
    the cap is exactly one keyed shuffle."""
    from rayforce_spark.datapipe.sampling import (
        assign_folds,
        cap_per_key,
        hash_bucket,
        sample_hash,
    )

    (d,) = _t(spark, sf, "documents")
    s = sample_hash(d, "doc_id", 0.30, salt=7).select(
        "doc_id",
        "lang",
        hash_bucket("doc_id", 1_000_000, salt=7).alias("bucket"),
        assign_folds("doc_id", (0.8, 0.1, 0.1), salt=11).alias("fold"),
    )
    return cap_per_key(s, "lang", 30, "doc_id")


def q_dsir_select(spark, sf):
    """DSIR importance resampling (Xie et al. 2023, datapipe.dsir) as a
    gated query (r8 — closes the one pytest-only evidence gap): target
    domain = the deterministic doc_id %% 23 == 0 slice, raw pool = the
    rest; log_w = mean-per-bigram [nll under the raw-pool LM - nll
    under the target LM] (both the same add-0.1 bigram model the
    quality_filter oracle already replays), then Gumbel-top-k with the
    ENGINE-PORTABLE Knuth-hash noise (salt 3) — the oracle replays the
    full sampler, weights AND noise, in plain bigint arithmetic. Plan:
    two LM scorings + one TakeOrdered(k); no global sort."""
    from rayforce_spark.datapipe import dsir_select

    (d,) = _t(spark, sf, "documents")
    target = d.filter(F.col("doc_id") % 23 == 0)
    raw = d.filter(F.col("doc_id") % 23 != 0)
    return dsir_select(raw, target, "text", "doc_id", k=200,
                       salt=3).select("doc_id", "lang", "log_w")


def q_sequence_packing(spark, sf):
    """Sequence packing for LM training batches (datapipe.packing, r8) —
    BOTH packings over the documents corpus in one gated row:

    * pack_offsets — GPT-style concatenate-and-chunk (Brown et al. 2020
      §2.2): Knuth-hash shard (engine-portable bigint), id-ordered
      exclusive token cumsum within the shard, budget-2048 chunk
      indices. Pure per-shard window cumsum — one shuffle, no global
      sort, no Python.
    * pack_greedy — doc-boundary first-fit (never split a doc; open a
      new pack on overflow): a stateful running scan, one Arrow batch
      per shard via applyInPandas, which the oracle replays EXACTLY as
      a recursive CTE (one recursion step per doc per shard).

    Joined on doc_id so the oracle verifies offsets AND the greedy pack
    assignment row-for-row."""
    from rayforce_spark.datapipe import pack_greedy, pack_offsets

    (d,) = _t(spark, sf, "documents")
    off = pack_offsets(d, "text", "doc_id", budget=2048, shards=8,
                       salt=5).select("doc_id", "shard", "n_tok",
                                      "tok_start", "pack_first",
                                      "pack_last")
    grd = pack_greedy(d, "text", "doc_id", budget=2048, shards=8,
                      salt=5).select(
        "doc_id", F.col("pack").alias("greedy_pack"))
    return off.join(grd, "doc_id")


def q_multimodal_features(spark, sf):
    """mapInPandas feature extraction over binary media columns — BOTH
    decoder tiers in one gated row (r7):

    * fake tier: md5-twin features over utf-8 text bytes (f0..f7, each a
      digest byte / 255.0 — one IEEE division, bit-exact in DuckDB).
    * stdlib tier (REAL decode): per doc, a 24-bit BMP and an 8-bit PCM
      WAV are synthesized from closed-form byte recipes
      (synthesize_media), round-trip through the real encoders, and are
      then REALLY parsed back (hand-rolled BMP parser / stdlib wave) by
      extract_features(decoder="stdlib") — the oracle recomputes the
      decoded width/height/mean and rate/frames/mean from the closed
      forms, so a parser bug (stride, padding, BGR order, header offset)
      flips this row red.

    Gated projection: media_id is the document key (reproducible), all
    vectors unpacked to scalar doubles (driver canonicalizer can't hash
    array cells, r2 err)."""
    from rayforce_spark.datapipe.multimodal import (
        attach_binary, extract_features, synthesize_media)

    (d,) = _t(spark, sf, "documents")
    media = attach_binary(d, "text", kind="image", id_col="doc_id")
    feats = extract_features(media, dim=8).select(
        "media_id", "n_bytes",
        *[F.element_at("features", i + 1).alias(f"f{i}") for i in range(8)],
    )
    ids = d.select("doc_id")
    bmp = extract_features(
        synthesize_media(ids, "doc_id", kind="image"),
        id_col="doc_id", dim=3, decoder="stdlib",
    ).select(
        F.col("doc_id").alias("media_id"),
        F.element_at("features", 1).alias("bmp_w"),
        F.element_at("features", 2).alias("bmp_h"),
        F.element_at("features", 3).alias("bmp_mean"),
    )
    wav = extract_features(
        synthesize_media(ids, "doc_id", kind="audio"),
        id_col="doc_id", dim=3, decoder="stdlib",
    ).select(
        F.col("doc_id").alias("media_id"),
        F.element_at("features", 1).alias("wav_rate"),
        F.element_at("features", 2).alias("wav_n"),
        F.element_at("features", 3).alias("wav_mean"),
    )
    return feats.join(bmp, "media_id").join(wav, "media_id")


# -- iteration / UDF surface (SURVEY §2.8) ----------------------------------

def q_grouped_lambda(spark, sf):
    """Per-group pandas lambda (applyInPandas) — the reference's grouped
    map idiom (ref core/compose.c:1166 + MAPGROUP)."""
    from rayforce_spark.operators.iterate import apply_grouped

    (li,) = _t(spark, sf, "lineitem")
    li = li.filter(F.col("l_orderkey") % 20 == 0)  # applyInPandas pays a
    # per-group pandas overhead — scoped demo; the expression path
    # (update_grouped) is the scale answer for this computation

    def demean(pdf):
        pdf["demeaned"] = pdf["l_quantity"] - pdf["l_quantity"].mean()
        return pdf[["l_orderkey", "l_linenumber", "demeaned"]]

    out = apply_grouped(
        li, ["l_orderkey"], demean,
        "l_orderkey long, l_linenumber int, demeaned double",
    )
    return out.withColumn("demeaned", F.round("demeaned", 6))


def q_group_indices(spark, sf):
    """(group vec) -> value: sorted occurrence ids (ref core/compose.c:1071).

    The gated projection serializes the ids array to a comma-joined string:
    the driver's canonicalizer hashes scalar cells only (r2: raw
    array<long> crashed it with 'unhashable type: list')."""
    from rayforce_spark.operators.items import group_indices

    (ev,) = _t(spark, sf, "events")
    out = group_indices(ev, "event_type", "event_id")
    return out.select(
        "event_type",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), ",")
        .alias("ids"),
        F.size("ids").alias("n"),
    )


# NB the driver evaluates at most 50 queries per round (r1 emitted exactly
# the first 50 of 56; r5 registered 58 and 8 rows went unchecked) — this
# dict holds EXACTLY 50 entries so every one gets a CORRECTNESS row.
# Consolidations (r6): text_analysis→text_quality, cube_rollup+pivot→
# cube_pivot, splayed+parted→storage_roundtrip, bin_bucket→rank_xrank,
# hash_sample+cap_per_key→sample_pipeline, knn_lsh+knn_ivf→knn_recall
# (production configs, recall-gated), dedup_embedding_lsh folded into
# dedup_embedding as its recall gate, groupby_sum3_highcard retired (same
# verb surface as groupby_highcard/manykeys; still a bench shape).
# Consolidations (r9, restoring the cap after dsir_select +
# sequence_packing grew the dict to 52): insert+upsert→insert_upsert,
# array_ops folded into string_ops (same part scan carries the array
# verbs + map_array).
# Near-duplicate bench shapes (groupby_sum/multikey, agg_arith,
# scan_cumsum) are exposed to bench.py directly via q_* lookup.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "groupby_stats": q_groupby_stats,
    "tpch_q1": q_tpch_q1,
    "flat_agg": q_flat_agg,
    "project_filter": q_project_filter,
    "xbar_bucket": q_xbar_bucket,
    "update_where": q_update_where,
    "rayfall_select": q_rayfall_select,
    "update_grouped": q_update_grouped,
    "distinct": q_distinct,
    "ediv_emod": q_ediv_emod,
    "null_semantics": q_null_semantics,
    "groupby_highcard": q_groupby_highcard,
    "time_of_day": q_time_of_day,
    "groupby_manykeys": q_groupby_manykeys,
    "tpch_q3ish": q_tpch_q3ish,
    "inner_join": q_inner_join,
    "left_join_dedup": q_left_join_dedup,
    "asof_join": q_asof_join,
    "window_join": q_window_join,
    "insert_upsert": q_insert_upsert,
    "semi_anti": q_semi_anti,
    "except_sect_union": q_except_sect_union,
    "in_within": q_in_within,
    "rank_xrank": q_rank_xrank,
    "top_k_per_group": q_top_k_per_group,
    "string_ops": q_string_ops,
    "xbar_time": q_xbar_time,
    "sessionize": q_sessionize,
    "quantiles": q_quantiles,
    "moving_window": q_moving_window,
    "storage_roundtrip": q_storage_roundtrip,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "knn_cosine": q_knn_cosine,
    "knn_recall": q_knn_recall,
    "text_quality": q_text_quality,
    "ngram_bigrams": q_ngram_bigrams,
    "quality_filter": q_quality_filter,
    "pii_scrub": q_pii_scrub,
    "sample_pipeline": q_sample_pipeline,
    "dsir_select": q_dsir_select,
    "sequence_packing": q_sequence_packing,
    "multimodal_features": q_multimodal_features,
    "grouped_lambda": q_grouped_lambda,
    "group_indices": q_group_indices,
    "cube_pivot": q_cube_pivot,
}
# the cap is a hard driver contract (r1: 50-of-56 emitted; r5: 8 of 58
# unchecked; r8: array_ops/cube_pivot fell off at positions 51-52) —
# enforced here AND in tests/test_doc_consistency.py
assert len(QUERIES) == 50, f"driver gate cap is 50, got {len(QUERIES)}"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of datapipe.dedup.cosine, deterministic cross-engine:
    double products rounded ONCE to 1e-9 fixed-point units, summed as
    exact integers (association-free), one IEEE sqrt/divide on identical
    inputs. list_cosine_similarity's internal summation matched Spark's
    fold only to the last ulp, which flipped a round(·,6) boundary at
    sf0.1."""
    u = "1000000000.0"
    dot = (f"(CAST(list_sum(list_transform(list_zip({a}::DOUBLE[], "
           f"{b}::DOUBLE[]), x -> CAST(round(x[1]*x[2]*{u}) AS BIGINT)))"
           f" AS DOUBLE) / {u})")
    na2 = (f"(CAST(list_sum(list_transform({a}::DOUBLE[], "
           f"v -> CAST(round(v*v*{u}) AS BIGINT))) AS DOUBLE) / {u})")
    nb2 = (f"(CAST(list_sum(list_transform({b}::DOUBLE[], "
           f"v -> CAST(round(v*v*{u}) AS BIGINT))) AS DOUBLE) / {u})")
    return f"{dot} / NULLIF(sqrt({na2} * {nb2}), 0.0)"


def _knn_oracle(n_queries: int) -> str:
    """Brute-force top-5 oracle over the first ``n_queries`` vectors —
    knn_cosine gates 3 queries; knn_recall uses 10 (50 exact pairs, so
    the binomial recall estimate is flake-resistant to data regen)."""
    return f"""
    WITH pc AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.embedding', 'c.embedding')} AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id < {n_queries}
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM pc
    ) WHERE rank <= 5
"""


_KNN_ORACLE = _knn_oracle(3)


ORACLE: dict[str, str] = {
    "groupby_stats": """
        SELECT l_returnflag,
               avg(l_extendedprice) AS avg_price,
               min(l_discount) AS min_disc,
               max(l_tax) AS max_tax,
               median(l_quantity) AS med_qty,
               stddev_pop(l_extendedprice) AS dev_price,
               count(DISTINCT l_partkey) AS n_parts,
               max(l_quantity) - min(l_quantity) AS range_qty
        FROM lineitem GROUP BY 1
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
    """,
    "flat_agg": """
        SELECT sum(o_totalprice) AS total, count(*) AS n,
               max(o_totalprice) AS mx, min(o_totalprice) AS mn,
               median(o_totalprice) AS md
        FROM orders
    """,
    "project_filter": """
        SELECT o_orderkey AS k, o_totalprice * 2 AS p2,
               year(o_orderdate) AS y, month(o_orderdate) AS m,
               day(o_orderdate) AS d, CAST(o_orderdate AS DATE) AS dt
        FROM orders WHERE o_orderstatus = 'O'
    """,
    "xbar_bucket": """
        SELECT floor(o_totalprice / 1000) * 1000 AS price_bucket,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 / count(o_totalprice) AS avg_price
        FROM orders GROUP BY 1
    """,
    "update_where": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    """,
    "rayfall_select": """
        SELECT l_returnflag,
               sum(l_quantity) AS sum_qty,
               avg(l_extendedprice) AS avg_price,
               max(l_discount) AS max_disc,
               count(l_orderkey) AS n
        FROM lineitem WHERE l_quantity < 30.0
        GROUP BY 1
    """,
    "update_grouped": """
        SELECT l_orderkey, l_linenumber,
               max(l_quantity) OVER (PARTITION BY l_orderkey) AS grp_max
        FROM lineitem
    """,
    "distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "ediv_emod": """
        SELECT l_orderkey AS k, l_linenumber AS ln,
               CAST(floor((l_orderkey - 3000) / 7.0) AS BIGINT) AS d7,
               CAST((l_orderkey - 3000) - 7 * floor((l_orderkey - 3000) / 7.0) AS BIGINT) AS m7,
               CAST(floor((l_orderkey - 3000) / -7.0) AS BIGINT) AS dn7,
               CAST((l_orderkey - 3000) + 7 * floor((l_orderkey - 3000) / -7.0) AS BIGINT) AS mn7,
               CASE WHEN l_linenumber - 1 = 0 THEN NULL
                    ELSE CAST(floor((l_orderkey - 3000)
                              / (l_linenumber - 1.0)) AS BIGINT) END AS dz,
               l_extendedprice / l_quantity AS fd
        FROM lineitem
    """,
    "null_semantics": """
        SELECT l_returnflag,
               sum(nullif(l_discount, 0.0)) AS sum_d,
               avg(nullif(l_discount, 0.0)) AS avg_d,
               count(*) AS n_all,
               count(nullif(l_discount, 0.0)) AS n_d,
               sum(nullif(l_discount, 0.0) + 1) AS prop
        FROM lineitem GROUP BY 1
    """,
    "groupby_highcard": """
        SELECT l_partkey, sum(l_quantity) AS sum_qty, avg(l_discount) AS avg_disc
        FROM lineitem GROUP BY 1
    """,
    "time_of_day": """
        -- ms_of_day twin: floor-mod of epoch_us keeps pre-epoch clocks
        -- positive; time_from_ms twin: make_timestamp(us) on the epoch day
        SELECT hour, n, min_ms, max_ms, sum_value,
               strftime(make_timestamp(CAST(hour AS BIGINT) * 3600000000),
                        '%H:%M') AS hhmm
        FROM (
          SELECT CAST(floor(ms / 3600000.0) AS INT) AS hour,
                 count(*) AS n, min(ms) AS min_ms, max(ms) AS max_ms,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
          FROM (SELECT CAST(floor((((epoch_us(ts) % 86400000000)
                             + 86400000000) % 86400000000) / 1000.0) AS INT)
                       AS ms, value
                FROM events)
          GROUP BY 1
        )
    """,
    "groupby_manykeys": """
        SELECT l_returnflag, l_linestatus, l_suppkey, l_partkey,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY 1, 2, 3, 4
    """,
    "tpch_q3ish": """
        SELECT o_orderkey, o_orderpriority,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate < TIMESTAMP '1998-01-01'
          AND c_mktsegment = 'BUILDING'
        GROUP BY 1, 2
    """,
    "inner_join": """
        SELECT o_orderkey, o_custkey, c_name, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "left_join_dedup": """
        -- keep="first" (r9 default flip, live-pinned r8: the reference's
        -- join index keeps the FIRST right row per key)
        SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity
        FROM orders LEFT JOIN (
          SELECT * FROM (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber ASC,
                                               l_quantity ASC) AS rn
            FROM lineitem) WHERE rn = 1)
        ON o_orderkey = l_orderkey
    """,
    "asof_join": """
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
               r.click_value
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT user_id, ts, value AS click_value FROM events
                        WHERE event_type = 'click') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "window_join": f"""
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
               min(r.value) AS min_click, max(r.value) AS max_click,
               count(r.value) AS n_click
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') l
        LEFT JOIN (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'click') r
          ON l.user_id = r.user_id
         AND epoch_ns(r.ts) BETWEEN epoch_ns(l.ts) - {NS_5MIN}
                                AND epoch_ns(l.ts) + {NS_5MIN}
        GROUP BY 1, 2, 3
    """,
    "insert_upsert": """
        SELECT 'insert' AS op, o_orderkey AS key, o_orderstatus AS sval,
               CAST(NULL AS DOUBLE) AS dval
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT 'insert' AS op, o_orderkey AS key, o_orderstatus AS sval,
               CAST(NULL AS DOUBLE) AS dval
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'upsert' AS op, c_custkey AS key, CAST(NULL AS VARCHAR) AS sval,
               CASE WHEN c_custkey % 10 = 0 THEN 0.0 ELSE c_acctbal END AS dval
        FROM customer
    """,
    "semi_anti": """
        SELECT c_custkey, c_custkey IN (SELECT o_custkey FROM orders) AS has_orders
        FROM customer
    """,
    "except_sect_union": """
        -- except/sect are duplicate-preserving FILTERS in the reference
        -- (ref core/items.c:898,916), not SQL set ops
        SELECT c_nationkey AS k, 'except' AS op FROM customer
        WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT c_nationkey AS k, 'sect' AS op FROM customer
        WHERE c_nationkey IN (SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT k, 'union' AS op FROM
          (SELECT c_nationkey AS k FROM customer
           UNION SELECT s_nationkey FROM supplier)
    """,
    "in_within": """
        SELECT event_id, event_type, value FROM events
        WHERE event_type IN ('click','view') AND value BETWEEN 10.0 AND 50.0
    """,
    "rank_xrank": """
        SELECT c_custkey,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) - 1 AS rank,
               (row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey) - 1) * 4
                   // count(*) OVER (PARTITION BY c_mktsegment) AS bucket,
               (CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END +
                CASE WHEN c_acctbal >= 2500 THEN 1 ELSE 0 END +
                CASE WHEN c_acctbal >= 5000 THEN 1 ELSE 0 END +
                CASE WHEN c_acctbal >= 7500 THEN 1 ELSE 0 END) - 1
               AS bal_bin,
               (CASE WHEN 0 < c_acctbal THEN 1 ELSE 0 END +
                CASE WHEN 2500 < c_acctbal THEN 1 ELSE 0 END +
                CASE WHEN 5000 < c_acctbal THEN 1 ELSE 0 END +
                CASE WHEN 7500 < c_acctbal THEN 1 ELSE 0 END)
               AS bal_binr
        FROM customer
    """,
    "top_k_per_group": """
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders) WHERE rn <= 3
    """,
    "string_ops": """
        SELECT p_partkey,
               string_split(p_name, ' ')[1] AS word0,
               printf('%s:%d', p_brand, p_size) AS tag,
               CAST(p_size AS VARCHAR) AS size_str,
               CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
               upper(p_type) AS type_upper,
               p_name LIKE '%widget%' AS is_widget,
               regexp_matches(p_name, '^[cs].*$') AS starts_cs,
               regexp_matches(p_brand, '^Brand#1.$') AS brand_1x,
               len(string_split(p_name, ' ')) AS n_words,
               len(list_distinct(string_split(p_name, ' '))) AS n_distinct,
               list_contains(string_split(p_name, ' '), 'green') AS has_green,
               upper(string_split(p_name, ' ')[-1]) AS last_upper
        FROM part
    """,
    "xbar_time": """
        SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS DATE) AS day,
               count(*) AS n, sum(value) AS sum_value
        FROM events GROUP BY 1
    """,
    "moving_window": """
        SELECT event_id, user_id,
               lag(value, 1) OVER w AS prev_value,
               lead(value, 1) OVER w AS next_value,
               avg(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                   AS mavg5,
               max(value) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                   AS mmax5,
               row_number() OVER w AS rn,
               sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "sessionize": """
        WITH flagged AS (
          SELECT user_id, epoch_ns(ts) AS tns, event_id, value,
                 CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL THEN 1
                      WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
                           > 1800000000000 THEN 1
                      ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, tns, value,
                 CAST(sum(brk) OVER (PARTITION BY user_id
                                     ORDER BY tns, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                      AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq,
               min(tns // 1000) AS start_us,
               max(tns // 1000) AS end_us,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM sess GROUP BY 1, 2
    """,
    "quantiles": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.75) AS p75,
               quantile_cont(l_extendedprice, 0.99) AS p99,
               count(*) AS n
        FROM lineitem GROUP BY 1
    """,
    "storage_roundtrip": """
        SELECT 'splayed' AS layout, o_orderstatus AS key, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS sum_k
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'parted', CAST(CAST(ts AS DATE) AS VARCHAR), count(*),
               CAST(sum(event_id) AS BIGINT)
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'csv', CAST(n_regionkey AS VARCHAR), count(*),
               CAST(sum(n_nationkey) AS BIGINT)
        FROM nation GROUP BY 2
        UNION ALL
        SELECT 'bucketed', c_mktsegment, count(*),
               CAST(sum(c_custkey) AS BIGINT)
        FROM customer GROUP BY 2
        UNION ALL
        SELECT 'journal', event_type, count(*),
               CAST(sum(event_id) AS BIGINT)
        FROM events GROUP BY 2
        UNION ALL
        SELECT 'jsonl', lang, count(*),
               CAST(sum(doc_id) AS BIGINT)
        FROM documents GROUP BY 2
    """,
    "dedup_exact": """
        -- r7 chain: corpus-global aligned-3-word segment dedup (first
        -- (doc_id, pos) occurrence wins), docs reassembled from their
        -- surviving segments, then min-doc_id per (lang, source)
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), seg AS (
          SELECT doc_id, i AS pos,
                 array_to_string(list_slice(w, i, i + 2), ' ') AS s
          FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1, 3)) AS i) t
        ), k AS (
          SELECT doc_id, pos, s,
                 row_number() OVER (PARTITION BY s
                                    ORDER BY doc_id, pos) AS rn
          FROM seg
        ), clean AS (
          SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS ct
          FROM k WHERE rn = 1 GROUP BY doc_id
        ), base AS (
          SELECT d.doc_id, d.lang, d.source, coalesce(c.ct, '') AS ct
          FROM documents d LEFT JOIN clean c ON d.doc_id = c.doc_id
        )
        SELECT doc_id, lang, source, md5(ct) AS clean_fp,
               len(string_split(ct, ' ')) AS n_clean_tok
        FROM (
          SELECT doc_id, lang, source, ct,
                 min(doc_id) OVER (PARTITION BY lang, source) AS m
          FROM base) WHERE doc_id = m
    """,
    "dedup_jaccard": """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
          FROM documents
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1
        ), co AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
    """,
    "dedup_clusters": """
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
          FROM documents
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1
        ), co AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id_a, id_b FROM co
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE inter / (sa.sz + sb.sz - inter) >= 0.8
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT DISTINCT src AS id, src AS r FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
        )
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
    """,
    "ngram_bigrams": """
        WITH toks AS (
          SELECT string_split(trim(lower(text)), ' ') AS w FROM documents
        ), grams AS (
          SELECT unnest(list_transform(range(1, len(w)),
                                       i -> w[i] || ' ' || w[i+1])) AS g
          FROM toks WHERE len(w) >= 2
        )
        SELECT g AS ngram, count(*) AS n FROM grams
        GROUP BY 1 ORDER BY n DESC, g LIMIT 50
    """,
    "quality_filter": """
        -- r7 chain: quality cume_dist floor on the %97 train split,
        -- then a CCNet-style per-language LM-score floor (corpus-trained
        -- add-0.1 bigram LM, drop the worst 10%), then drop docs sharing
        -- any word 3-gram with the %97==0 eval holdout (decontamination)
        WITH train AS (
          SELECT * FROM documents WHERE doc_id % 97 <> 0
        ), feat AS (
          SELECT doc_id, lang,
                 length(text) AS n_chars,
                 len(string_split(trim(lower(text)), ' ')) AS n_toks,
                 length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS punct
          FROM train
        ), scored AS (
          SELECT doc_id, lang,
                 round(greatest(
                   least(n_toks / 50.0, 1.0) * 0.5
                   + (CASE WHEN n_chars / greatest(n_toks, 1) >= 3
                            AND n_chars / greatest(n_toks, 1) <= 10
                           THEN 1.0 ELSE 0.5 END) * 0.3
                   + (1 - punct / greatest(n_chars, 1)) * 0.2,
                   0.0), 6) AS quality
          FROM feat
        )
        , kept AS (
          SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   cume_dist() OVER (PARTITION BY lang
                                     ORDER BY quality) AS cd
            FROM scored
          ) WHERE cd >= 0.5
        ), toksk AS (
          SELECT k.doc_id, k.lang,
                 string_split(trim(lower(t.text)), ' ') AS w
          FROM kept k JOIN train t ON k.doc_id = t.doc_id
        ), lm_uni AS (
          SELECT u.w, count(*) AS c1
          FROM (SELECT unnest(w) AS w FROM toksk) u GROUP BY 1
        ), vv AS (
          SELECT count(*) AS v FROM lm_uni
        ), docg AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1])) AS g
          FROM toksk WHERE len(w) >= 2
        ), lm_big AS (
          SELECT g, count(*) AS c2 FROM docg GROUP BY 1
        ), nll AS (
          SELECT d.doc_id,
                 round(avg(-ln((b.c2 + 0.1) / (u.c1 + 0.1 * vv.v))),
                       6) AS lm_nll
          FROM docg d
          JOIN lm_big b USING (g)
          JOIN lm_uni u ON u.w = string_split(d.g, ' ')[1]
          CROSS JOIN vv
          GROUP BY 1
        ), lmk AS (
          SELECT doc_id, lang, lm_nll FROM (
            SELECT k.doc_id, k.lang, n.lm_nll,
                   cume_dist() OVER (PARTITION BY k.lang
                                     ORDER BY n.lm_nll) AS cd
            FROM kept k JOIN nll n USING (doc_id)
          ) WHERE cd <= 0.9
          UNION ALL
          SELECT k.doc_id, k.lang, NULL AS lm_nll
          FROM kept k WHERE k.doc_id NOT IN (SELECT doc_id FROM nll)
        ), evtoks AS (
          SELECT string_split(trim(lower(text)), ' ') AS w
          FROM documents WHERE doc_id % 97 = 0
        ), evg AS (
          SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM evtoks WHERE len(w) >= 3
        ), trg AS (
          SELECT k.doc_id, unnest(list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM kept k JOIN (
            SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
            FROM train
          ) t ON k.doc_id = t.doc_id WHERE len(w) >= 3
        ), cont AS (
          SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (g)
        )
        SELECT doc_id, lang, lm_nll FROM lmk
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    """,
    "pii_scrub": """
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                 text || ' contact doc' || doc_id
                      || '@example.com from 10.0.0.' || (doc_id % 256),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
                 '\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]', '<PHONE>', 'g'),
                 '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g')
               AS scrubbed
        FROM documents
    """,
    "dsir_select": """
        -- DSIR replay: add-0.1 bigram LM nll under the raw-pool model
        -- and the target model (left joins + smoothing fallback for
        -- bigrams unseen by the target LM), log_w = round(raw - tgt, 6),
        -- Gumbel noise from the same Knuth bucket sample_pipeline uses
        WITH raw AS (
          SELECT doc_id, lang, string_split(trim(lower(text)), ' ') AS w
          FROM documents WHERE doc_id % 23 <> 0
        ), tgt AS (
          SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
          FROM documents WHERE doc_id % 23 = 0
        ), uni_r AS (
          SELECT u.w, count(*) AS c1
          FROM (SELECT unnest(w) AS w FROM raw) u GROUP BY 1
        ), big_r AS (
          SELECT g, count(*) AS c2 FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i+1])) AS g
            FROM raw WHERE len(w) >= 2) GROUP BY 1
        ), v_r AS (SELECT count(*) AS v FROM uni_r),
        uni_t AS (
          SELECT u.w, count(*) AS c1
          FROM (SELECT unnest(w) AS w FROM tgt) u GROUP BY 1
        ), big_t AS (
          SELECT g, count(*) AS c2 FROM (
            SELECT unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i+1])) AS g
            FROM tgt WHERE len(w) >= 2) GROUP BY 1
        ), v_t AS (SELECT count(*) AS v FROM uni_t),
        docg AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1])) AS g
          FROM raw WHERE len(w) >= 2
        ), nll AS (
          SELECT d.doc_id,
                 round(avg(-ln((coalesce(br.c2, 0) + 0.1)
                               / (coalesce(ur.c1, 0) + 0.1 * v_r.v))),
                       6) AS nr,
                 round(avg(-ln((coalesce(bt.c2, 0) + 0.1)
                               / (coalesce(ut.c1, 0) + 0.1 * v_t.v))),
                       6) AS nt
          FROM docg d
          LEFT JOIN big_r br USING (g)
          LEFT JOIN uni_r ur ON ur.w = string_split(d.g, ' ')[1]
          LEFT JOIN big_t bt ON bt.g = d.g
          LEFT JOIN uni_t ut ON ut.w = string_split(d.g, ' ')[1]
          CROSS JOIN v_r CROSS JOIN v_t
          GROUP BY 1
        ), lw AS (
          SELECT r.doc_id, r.lang, round(n.nr - n.nt, 6) AS log_w
          FROM raw r JOIN nll n USING (doc_id)
        ), pri AS (
          -- the sampler rounds log_w FIRST, then adds the noise
          SELECT doc_id, lang, log_w,
                 round(log_w
                   - ln(-ln((((doc_id + 3) % 2147483647) * 2654435761
                             % 2147483647 % 1000000 + 0.5)
                            / 1000000.0)), 6) AS p
          FROM lw
        )
        SELECT doc_id, lang, log_w FROM pri
        ORDER BY p DESC, doc_id LIMIT 200
    """,
    "sample_pipeline": """
        -- Knuth multiplicative buckets over the Mersenne-prime field
        -- (plain bigint arithmetic, bit-identical across engines), fold
        -- bucket salted differently (11) from the sample bucket (7), then
        -- a row_number cap per language
        WITH b AS (
          SELECT doc_id, lang,
                 ((doc_id + 7) % 2147483647) * 2654435761
                   % 2147483647 % 1000000 AS bucket,
                 ((doc_id + 11) % 2147483647) * 2654435761
                   % 2147483647 % 1000000 AS fb
          FROM documents
        ), s AS (
          SELECT doc_id, lang, bucket,
                 CASE WHEN fb < 800000 THEN 'train'
                      WHEN fb < 900000 THEN 'val'
                      ELSE 'test' END AS fold
          FROM b WHERE bucket < 300000
        )
        SELECT doc_id, lang, bucket, fold FROM (
          SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY doc_id) AS rn
          FROM s
        ) WHERE rn <= 30
    """,
    "sequence_packing": """
        -- both packings replayed exactly: the Knuth shard + exclusive
        -- token cumsum + budget-2048 chunk indices in plain window SQL,
        -- and the doc-boundary first-fit scan as a recursive CTE (one
        -- recursion step per doc within each shard — the same running
        -- reset the Arrow batch applies)
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 ((doc_id + 5) % 2147483647) * 2654435761
                   % 2147483647 % 8 AS shard,
                 len(string_split(trim(lower(text)), ' ')) AS n_tok
          FROM documents
        ), offs AS (
          SELECT doc_id, shard, n_tok,
                 coalesce(SUM(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS tok_start
          FROM toks
        ), numbered AS (
          SELECT *, row_number() OVER (
            PARTITION BY shard ORDER BY doc_id) AS rn
          FROM toks
        ), scan AS (
          SELECT shard, rn, doc_id, n_tok,
                 CAST(0 AS BIGINT) AS pack,
                 CAST(n_tok AS BIGINT) AS running
          FROM numbered WHERE rn = 1
          UNION ALL
          SELECT n.shard, n.rn, n.doc_id, n.n_tok,
                 CASE WHEN s.running > 0 AND s.running + n.n_tok > 2048
                      THEN s.pack + 1 ELSE s.pack END,
                 CASE WHEN s.running > 0 AND s.running + n.n_tok > 2048
                      THEN CAST(n.n_tok AS BIGINT)
                      ELSE s.running + n.n_tok END
          FROM scan s
          JOIN numbered n ON n.shard = s.shard AND n.rn = s.rn + 1
        )
        -- the windowed SUM types HUGEINT in DuckDB and would fetch as
        -- float64 (0.0 vs Spark's 0) under the driver's representation-
        -- strict hasher (r8 red row) — CAST every derived column back to
        -- BIGINT so both engines present identical dtypes
        SELECT o.doc_id, o.shard, o.n_tok,
               CAST(o.tok_start AS BIGINT) AS tok_start,
               CAST(o.tok_start // 2048 AS BIGINT) AS pack_first,
               CAST((o.tok_start + greatest(o.n_tok - 1, 0)) // 2048
                 AS BIGINT) AS pack_last,
               g.pack AS greedy_pack
        FROM offs o JOIN scan g USING (doc_id)
    """,
    "multimodal_features": """
        -- the fake decoder is md5(utf8(text) || '0'): each feature is one
        -- digest byte / 255.0 (single IEEE division, bit-exact), n_bytes
        -- the utf-8 byte length of the content column
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               ('0x' || substring(md5(text || '0'),  1, 2))::INT / 255.0 AS f0,
               ('0x' || substring(md5(text || '0'),  3, 2))::INT / 255.0 AS f1,
               ('0x' || substring(md5(text || '0'),  5, 2))::INT / 255.0 AS f2,
               ('0x' || substring(md5(text || '0'),  7, 2))::INT / 255.0 AS f3,
               ('0x' || substring(md5(text || '0'),  9, 2))::INT / 255.0 AS f4,
               ('0x' || substring(md5(text || '0'), 11, 2))::INT / 255.0 AS f5,
               ('0x' || substring(md5(text || '0'), 13, 2))::INT / 255.0 AS f6,
               ('0x' || substring(md5(text || '0'), 15, 2))::INT / 255.0 AS f7,
               -- stdlib tier: the synthesized 4x6 24-bit BMP's pixel
               -- stream is (doc_id*7 + i) % 256 for i in 0..71 and the
               -- 50-sample 8-bit WAV is (doc_id*13 + i) % 256 — the Spark
               -- side gets these numbers back by REALLY parsing the
               -- encoded bytes; the oracle recomputes the closed forms
               -- (integer sums are exact in f64, so AVG matches bit-for-bit)
               4.0::DOUBLE AS bmp_w,
               6.0::DOUBLE AS bmp_h,
               (SELECT AVG((doc_id * 7 + i) % 256)
                  FROM range(72) t(i)) AS bmp_mean,
               8000.0::DOUBLE AS wav_rate,
               50.0::DOUBLE AS wav_n,
               (SELECT AVG((doc_id * 13 + i) % 256)
                  FROM range(50) t(i)) AS wav_mean
        FROM documents
    """,
    "dedup_minhash": """
        -- exact Jaccard over distinct 3-word shingles: with bands=num_perm
        -- the LSH candidate step has recall 1 up to a (1-s)^64 < 6e-20
        -- tail, and the operator verifies candidates with exact Jaccard,
        -- so its output equals this exhaustive pair set
        WITH sh AS (
          SELECT doc_id, list_distinct([
                   toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   FOR i IN generate_series(1, len(toks) - 2)
                 ]) AS shingles
          FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
                FROM documents)
        ), t AS (
          SELECT doc_id, unnest(shingles) AS tok FROM sh
        ), sizes AS (
          SELECT doc_id, count(*) AS sz FROM t GROUP BY 1
        ), co AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
        FROM co
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    """,
    "dedup_simhash": """
        -- exhaustive simhash-hamming<=8 pair set: rebuild each 63-bit
        -- fingerprint from the md5-derived 60-bit token hash (the gated
        -- config's portable hash), then all-pairs popcount. The operator's
        -- pigeonhole banding (bands=9 > max_hamming=8) is exact-recall, so
        -- its bucketed output equals this exhaustive set.
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split(trim(lower(text)), ' '))) AS tok
          FROM documents
        ), hs AS (
          SELECT doc_id,
                 list(('0x'||substring(md5(tok),1,15))::BIGINT) AS hl
          FROM toks GROUP BY 1
        ), fp AS (
          SELECT doc_id,
                 CAST(list_sum([
                   CASE WHEN list_sum([
                     CASE WHEN (h & (1::BIGINT << b)) != 0 THEN 1 ELSE -1 END
                     FOR h IN hl]) > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END
                   FOR b IN generate_series(0, 62)]) AS BIGINT) AS f
          FROM hs
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.f, b.f)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.f, b.f)) <= 8
    """,
    "dedup_embedding": f"""
        SELECT id_a, id_b, round(cos, 6) AS cos FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_cos_sql('a.embedding', 'b.embedding')} AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ) WHERE cos >= 0.4
    """,
    "knn_cosine": _KNN_ORACLE,
    "knn_recall": _knn_oracle(10),
    "text_quality": """
        -- language_id: distinct-stopword-overlap argmax, ties broken by
        -- the lexicographically greatest language code (Spark's
        -- greatest() over (score, lang) structs); quality_score: the
        -- documented length/word-size/punctuation formula
        WITH feat AS (
          SELECT doc_id, text,
                 list_distinct(string_split(trim(lower(text)), ' ')) AS toks,
                 length(text) AS n_chars,
                 len(string_split(trim(lower(text)), ' ')) AS n_toks,
                 length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS punct
          FROM documents
        ), scored AS (
          SELECT doc_id, text, n_chars, n_toks, punct,
                 len(list_intersect(toks, ['the','a','of','and','to','in','is','it','for','on'])) AS s_en,
                 len(list_intersect(toks, ['der','die','das','und','ist','ein','zu','den','von','mit'])) AS s_de,
                 len(list_intersect(toks, ['el','la','de','que','y','en','un','es','los','por'])) AS s_es,
                 len(list_intersect(toks, ['le','la','de','et','un','est','que','les','des','en'])) AS s_fr
          FROM feat
        )
        , toks2 AS (
          SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
          FROM documents
        ), g2 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i+1])) AS g
          FROM toks2 WHERE len(w) >= 2
        ), c2 AS (
          SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2
        ), r2 AS (
          SELECT doc_id,
                 round(max(n)::DOUBLE / sum(n), 6) AS top2,
                 round(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0)::DOUBLE
                       / sum(n), 6) AS dup2
          FROM c2 GROUP BY 1
        ), g3 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
          FROM toks2 WHERE len(w) >= 3
        ), c3 AS (
          SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2
        ), r3 AS (
          SELECT doc_id,
                 round(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0)::DOUBLE
                       / sum(n), 6) AS dup3
          FROM c3 GROUP BY 1
        )
        SELECT s.doc_id,
               n_toks AS n_tok,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                       '\\s+', ' ', 'g'))) AS fp,
               n_chars AS len_chars,
               CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
                    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                    ELSE 'de' END AS lang_guess,
               round(greatest(
                 least(n_toks / 50.0, 1.0) * 0.5
                 + (CASE WHEN n_chars / greatest(n_toks, 1) >= 3
                          AND n_chars / greatest(n_toks, 1) <= 10
                         THEN 1.0 ELSE 0.5 END) * 0.3
                 + (1 - punct / greatest(n_chars, 1)) * 0.2,
                 0.0), 6) AS quality,
               coalesce(r2.top2, 0.0) AS top2gram_frac,
               coalesce(r3.dup3, 0.0) AS dup3gram_frac,
               (coalesce(r2.top2, 0.0) <= 0.20
                AND coalesce(r3.dup3, 0.0) <= 0.18) AS rep_ok
        FROM scored s
        LEFT JOIN r2 ON s.doc_id = r2.doc_id
        LEFT JOIN r3 ON s.doc_id = r3.doc_id
    """,
    "cube_pivot": """
        WITH cube_t AS (
          SELECT l_returnflag, l_linestatus,
                 sum(l_quantity) AS sum_qty, count(*) AS n
          FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ), piv AS (
          SELECT l_returnflag,
                 sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS piv_o,
                 sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS piv_f
          FROM lineitem GROUP BY 1
        )
        SELECT c.l_returnflag, c.l_linestatus, c.sum_qty, c.n,
               p.piv_o, p.piv_f
        FROM cube_t c LEFT JOIN piv p ON c.l_returnflag = p.l_returnflag
    """,
    "grouped_lambda": """
        SELECT l_orderkey, l_linenumber,
               round(l_quantity - avg(l_quantity)
                     OVER (PARTITION BY l_orderkey), 6) AS demeaned
        FROM lineitem WHERE l_orderkey % 20 = 0
    """,
    "group_indices": """
        SELECT event_type,
               array_to_string(list_sort(list(event_id)), ',') AS ids,
               count(event_id) AS n
        FROM events GROUP BY 1
    """,
}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
