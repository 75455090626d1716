"""Core relational query catalog (SURVEY §2.2–§2.10 inventory rows).

Each entry pairs a Spark builder (written against the engine's operator
library so the library itself is what gets verified) with a DuckDB
oracle. TPC-H-ish fixture tables stand in for the reference's WDI/EEA
inputs (FIXTURES.md mapping): filters/projections/aggregates/windows →
``lineitem``/``orders``; the denormalizing join → ``customer ⋈ nation ⋈
region``; the wide→long melt → a year-pivoted lineitem summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_spark_spark.functions.udfs import (
    decade_native,
    decade_pandas_udf,
    decade_python_udf,
)
from data_pipeline_with_spark_spark.operators import (
    distinct_rows,
    drop_all_null_rows,
    equi_join,
    expr_join,
    filter_expr,
    filter_in,
    filter_not_contains,
    filter_not_null,
    filter_rlike,
    group_agg,
    lag_diff,
    melt,
    normalize_column_names,
    pivot_wide,
    select_columns,
    top_k_per_group,
    union_by_name,
)
from data_pipeline_with_spark_spark.plans.registry import QuerySpec, register
from data_pipeline_with_spark_spark.util import ensure_min_partitions
from data_pipeline_with_spark_spark.sources.readers import (
    read_testdata,
    register_testdata_views,
)

SHIP_YEARS = list(range(1995, 2002))  # observed l_shipdate span in fixtures


def _lineitem_with_year(spark: SparkSession, sf: str) -> DataFrame:
    return read_testdata(spark, sf, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )


# --------------------------------------------------------------------------
# W1 flagship: top-100 per (returnflag, ship year) by extendedprice.
# Reference: serving_layer.py:256-267 (top-100 emitters per MS/year).
def _flagship(spark: SparkSession, sf: str) -> DataFrame:
    # The window's map side is a full per-task sort (the partial
    # WindowGroupLimit needs sorted input), the heaviest pre-exchange
    # work in the plan. A one-row-group fixture runs it in one task;
    # the guard spreads it over the cores, hashed on the
    # high-cardinality l_orderkey (no sortBeforeRepartition pass).
    li = ensure_min_partitions(_lineitem_with_year(spark, sf), by=("l_orderkey",))
    return top_k_per_group(
        li.select("l_returnflag", "ship_year", "l_orderkey", "l_linenumber", "l_extendedprice"),
        partition_by=["l_returnflag", "ship_year"],
        order_by=[F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=100,
    )


register(
    QuerySpec(
        name="w1_topk_per_group",
        build=_flagship,
        headline=True,
        doc="W1 ranked top-k per group (serving_layer.py:256-267)",
        oracle="""
        SELECT l_returnflag, ship_year, l_orderkey, l_linenumber, l_extendedprice
        FROM (
          SELECT l_returnflag, year(l_shipdate) AS ship_year, l_orderkey,
                 l_linenumber, l_extendedprice,
                 row_number() OVER (
                   PARTITION BY l_returnflag, year(l_shipdate)
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
                 ) AS rnk
          FROM lineitem
        ) WHERE rnk <= 100
        """,
    )
)


# --------------------------------------------------------------------------
# F1: SQL-string length() filter (curate_data.py:95-96).
register(
    QuerySpec(
        name="f1_where_length",
        build=lambda spark, sf: filter_expr(
            read_testdata(spark, sf, "customer"), "length(c_mktsegment) = 8"
        ).select("c_custkey", "c_name", "c_mktsegment"),
        doc="F1 SQL-string where (curate_data.py:95-96)",
        oracle="""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE length(c_mktsegment) = 8
        """,
    )
)


# F2: IS NOT NULL (denormalized_tables.py:62-72). Fixtures are null-free,
# so nulls are derived first (nullif), then filtered.
def _f2(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_testdata(spark, sf, "orders").withColumn(
        "status_nn", F.nullif(F.col("o_orderstatus"), F.lit("O"))
    )
    return filter_not_null(orders, "status_nn").select("o_orderkey", "status_nn")


register(
    QuerySpec(
        name="f2_filter_not_null",
        build=_f2,
        doc="F2 NOT NULL predicate (denormalized_tables.py:62-72)",
        oracle="""
        SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_nn FROM orders
        WHERE nullif(o_orderstatus, 'O') IS NOT NULL
        """,
    )
)


# F3: negated contains (curate_data.py:97).
register(
    QuerySpec(
        name="f3_not_contains",
        build=lambda spark, sf: filter_not_contains(
            read_testdata(spark, sf, "part"), "p_type", "TIN"
        ).select("p_partkey", "p_type"),
        doc="F3 negated contains (curate_data.py:97)",
        oracle="SELECT p_partkey, p_type FROM part WHERE NOT contains(p_type, 'TIN')",
    )
)


# F4: rlike regex filter (curate_data.py:205-208).
register(
    QuerySpec(
        name="f4_rlike",
        build=lambda spark, sf: filter_rlike(
            read_testdata(spark, sf, "orders"), "o_orderpriority", "^[12]-"
        ).select("o_orderkey", "o_orderpriority"),
        doc="F4 regex filter (curate_data.py:205-208)",
        oracle="""
        SELECT o_orderkey, o_orderpriority FROM orders
        WHERE regexp_matches(o_orderpriority, '^[12]-')
        """,
    )
)


# F5: IN predicate (curate_data.py:235).
register(
    QuerySpec(
        name="f5_in_list",
        build=lambda spark, sf: filter_in(
            read_testdata(spark, sf, "orders"), "o_orderpriority", ["1-URGENT", "5-LOW"]
        ).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        doc="F5 IN predicate (curate_data.py:235)",
        oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        """,
    )
)


# F6: comparison on a derived column with conjunction (serving_layer.py:263-267,
# udf_complex_logic.py:144-148). Per-row IEEE arithmetic: bit-identical
# across engines, left unrounded.
def _f6(spark: SparkSession, sf: str) -> DataFrame:
    li = read_testdata(spark, sf, "lineitem").withColumn(
        "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return filter_expr(
        li, (F.col("disc_price") > 90000) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "disc_price")


register(
    QuerySpec(
        name="f6_derived_predicate",
        build=_f6,
        doc="F6 derived-column comparison + conjunction (serving_layer.py:263-267)",
        oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS disc_price
        FROM lineitem
        WHERE l_extendedprice * (1 - l_discount) > 90000 AND l_returnflag = 'R'
        """,
    )
)


# F7: na.drop('all') (curate_data.py:79-83) — nulls derived, then rows
# where every subset column is null are dropped.
def _f7(spark: SparkSession, sf: str) -> DataFrame:
    ev = (
        read_testdata(spark, sf, "events")
        .withColumn("et_nn", F.nullif(F.col("event_type"), F.lit("click")))
        .withColumn("val_nn", F.when(F.col("value") < 50, None).otherwise(F.col("value")))
        .select("event_id", "et_nn", "val_nn")
    )
    return drop_all_null_rows(ev, subset=["et_nn", "val_nn"])


register(
    QuerySpec(
        name="f7_drop_all_null",
        build=_f7,
        doc="F7 all-null row drop (curate_data.py:79-83)",
        oracle="""
        SELECT * FROM (
          SELECT event_id, nullif(event_type, 'click') AS et_nn,
                 CASE WHEN value < 50 THEN NULL ELSE value END AS val_nn
          FROM events
        ) WHERE NOT (et_nn IS NULL AND val_nn IS NULL)
        """,
    )
)


# F8: distinct (curate_data.py:85-89).
register(
    QuerySpec(
        name="f8_distinct",
        build=lambda spark, sf: distinct_rows(
            select_columns(read_testdata(spark, sf, "lineitem"), ["l_returnflag", "l_linestatus"])
        ),
        doc="F8 distinct dedup (curate_data.py:85-89)",
        oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    )
)


# --------------------------------------------------------------------------
# P1: bulk column-name normalization (curate_data.py:74-77,189-193).
# Hazard names (space / parens) are introduced first, then normalized.
def _p1(spark: SparkSession, sf: str) -> DataFrame:
    ugly = read_testdata(spark, sf, "region").select(
        F.col("r_regionkey").alias("region key"),
        F.col("r_name").alias("region name (official)"),
    )
    return normalize_column_names(ugly)


register(
    QuerySpec(
        name="p1_normalize_names",
        build=_p1,
        doc="P1 bulk rename select-alias comprehension (curate_data.py:74-77)",
        oracle="""
        SELECT r_regionkey AS region_key, r_name AS region_name_official FROM region
        """,
    )
)


# P2–P8 battery: subset select, rename, cast, derived col, lit, alias, drop.
def _p_battery(spark: SparkSession, sf: str) -> DataFrame:
    li = read_testdata(spark, sf, "lineitem")
    out = select_columns(
        li, ["l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"]
    )
    out = out.withColumnRenamed("l_quantity", "qty")  # P4
    out = out.withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))  # P6
    out = out.withColumn(
        "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )  # P3 + P8
    out = out.withColumn("src", F.lit("engine"))  # P7
    return out.drop("l_suppkey", "l_extendedprice", "l_discount")  # P5


register(
    QuerySpec(
        name="p_projection_battery",
        build=_p_battery,
        doc="P2-P8 projection battery (denormalized_tables.py:64-72,181-187; lakehouse_data_igestion.py:158-200)",
        oracle="""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               l_quantity AS qty,
               l_extendedprice * (1 - l_discount) AS disc_price,
               'engine' AS src
        FROM lineitem
        """,
    )
)


# --------------------------------------------------------------------------
# J1: multi-hop USING equi-join denormalization (denormalized_tables.py:90-98),
# dims broadcast — at scale the fact side never shuffles for dim joins.
def _j1(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_testdata(spark, sf, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    nat = read_testdata(spark, sf, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
    reg = read_testdata(spark, sf, "region")
    out = equi_join(cust, nat, on=["n_nationkey"], broadcast_right=True)
    out = equi_join(out, reg, on=["r_regionkey"], broadcast_right=True)
    return out.select(
        "c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region")
    )


register(
    QuerySpec(
        name="j1_denormalize_star",
        build=_j1,
        headline=True,
        doc="J1 USING-style multi-join denormalization (denormalized_tables.py:90-98)",
        oracle="""
        SELECT c_custkey, c_name, n_name AS nation, r_name AS region
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        """,
    )
)


# J2: expression self-join, YoY aggregate diff (denormalized_tables.py:166-192).
def _yearly_rev(spark: SparkSession, sf: str) -> DataFrame:
    li = _lineitem_with_year(spark, sf).withColumn(
        "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return group_agg(li, ["ship_year"], [F.round(F.sum("disc_price"), 2).alias("rev")])


def _j2(spark: SparkSession, sf: str) -> DataFrame:
    cur = _yearly_rev(spark, sf)
    prev = _yearly_rev(spark, sf).select(
        F.col("ship_year").alias("prev_year"), F.col("rev").alias("rev_prev")
    )
    out = expr_join(cur, prev, cur["ship_year"] == prev["prev_year"] + 1)
    return out.select(
        "ship_year",
        F.col("rev").alias("rev_cur"),
        "rev_prev",
        F.round(F.col("rev") - F.col("rev_prev"), 2).alias("yoy_diff"),
    )


register(
    QuerySpec(
        name="j2_yoy_self_join",
        build=_j2,
        headline=True,
        doc="J2 expression self-join YoY diff (denormalized_tables.py:181-187)",
        oracle="""
        WITH yearly AS (
          SELECT year(l_shipdate) AS ship_year,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
          FROM lineitem GROUP BY 1
        )
        SELECT c.ship_year AS ship_year, c.rev AS rev_cur, p.rev AS rev_prev,
               round(c.rev - p.rev, 2) AS yoy_diff
        FROM yearly c JOIN yearly p ON c.ship_year = p.ship_year + 1
        """,
    )
)


# W-lag: the idiomatic single-shuffle formulation of J2 (SURVEY §2.6 note).
def _w_lag(spark: SparkSession, sf: str) -> DataFrame:
    yearly = _yearly_rev(spark, sf)
    out = lag_diff(yearly, partition_by=[], order_by="ship_year", value="rev",
                   diff_col="yoy_diff", lag_col="rev_prev")
    return out.select(
        "ship_year", F.col("rev").alias("rev_cur"), "rev_prev",
        F.round("yoy_diff", 2).alias("yoy_diff"),
    )


register(
    QuerySpec(
        name="w2_yoy_lag",
        build=_w_lag,
        doc="lag() window formulation of the YoY self-join (SURVEY §2.6)",
        oracle="""
        WITH yearly AS (
          SELECT year(l_shipdate) AS ship_year,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
          FROM lineitem GROUP BY 1
        )
        SELECT ship_year, rev AS rev_cur,
               lag(rev) OVER (ORDER BY ship_year) AS rev_prev,
               round(rev - lag(rev) OVER (ORDER BY ship_year), 2) AS yoy_diff
        FROM yearly
        """,
    )
)


# --------------------------------------------------------------------------
# A1: group-by sum (denormalized_tables.py:166-178). Quantities are
# integral doubles → exact sums, no rounding needed.
register(
    QuerySpec(
        name="a1_group_sum",
        build=lambda spark, sf: group_agg(
            read_testdata(spark, sf, "lineitem"),
            ["l_returnflag"],
            {"sum_qty": ("sum", "l_quantity"), "n_rows": ("count", "l_orderkey")},
        ),
        doc="A1 group-by sum (denormalized_tables.py:166-178)",
        oracle="""
        SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(l_orderkey) AS n_rows
        FROM lineitem GROUP BY l_returnflag
        """,
    )
)


# A2: multi-key group-by avg with alias + explicit cast doctrine
# (serving_layer.py:184-195).
def _a2(spark: SparkSession, sf: str) -> DataFrame:
    li = _lineitem_with_year(spark, sf)
    return group_agg(
        li,
        ["l_returnflag", "l_linestatus", "ship_year"],
        [
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
        ],
    )


register(
    QuerySpec(
        name="a2_group_avg_multikey",
        build=_a2,
        headline=True,
        doc="A2 multi-key group-by avg (serving_layer.py:184-195)",
        oracle="""
        SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
               round(avg(l_extendedprice), 2) AS avg_price, count(*) AS n_rows
        FROM lineitem GROUP BY 1, 2, 3
        """,
    )
)


# A3/A4: count action (curate_data.py:81-88).
register(
    QuerySpec(
        name="a3_count_rows",
        build=lambda spark, sf: read_testdata(spark, sf, "orders").agg(
            F.count(F.lit(1)).alias("n")
        ),
        doc="A3 count action (curate_data.py:81-88)",
        oracle="SELECT count(*) AS n FROM orders",
    )
)


# A5: per-column stats, explicit agg form of describe/summary
# (data_import.ipynb.py:156-162).
register(
    QuerySpec(
        name="a5_column_stats",
        build=lambda spark, sf: read_testdata(spark, sf, "lineitem").agg(
            F.count("l_extendedprice").alias("n_price"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.stddev("l_extendedprice"), 2).alias("sd_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        ),
        doc="A5 describe/summary equivalent (data_import.ipynb.py:156-162)",
        oracle="""
        SELECT count(l_extendedprice) AS n_price,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(stddev_samp(l_extendedprice), 2) AS sd_price,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price
        FROM lineitem
        """,
    )
)


# --------------------------------------------------------------------------
# O1+O2: global sort + limit (serving_layer.py:260, curate_data.py:154).
# Spark executes orderBy().limit(n) as TakeOrdered — no full sort shuffle.
register(
    QuerySpec(
        name="o1_sort_limit",
        build=lambda spark, sf: read_testdata(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10),
        doc="O1 global sort + O2 limit (serving_layer.py:260; curate_data.py:154)",
        oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
    )
)


# O3: union by name — columns deliberately re-ordered in the second frame
# (union is positional in the reference, denormalized_tables.py:191-192;
# our engine aligns by name).
def _o3(spark: SparkSession, sf: str) -> DataFrame:
    li = _lineitem_with_year(spark, sf)
    a = li.where(F.col("ship_year") == 1995).select(
        "l_orderkey", "l_linenumber", "ship_year", F.col("l_quantity").alias("qty")
    )
    b = li.where(F.col("ship_year") == 1996).select(
        F.col("l_quantity").alias("qty"), "ship_year", "l_linenumber", "l_orderkey"
    )
    return union_by_name([a, b])


register(
    QuerySpec(
        name="o3_union_by_name",
        build=_o3,
        doc="O3 union of year slices (serving_layer.py:116-133)",
        oracle="""
        SELECT l_orderkey, l_linenumber, year(l_shipdate) AS ship_year,
               l_quantity AS qty
        FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        """,
    )
)


# --------------------------------------------------------------------------
# R2 pivot: long → wide, one column per ship year (digit-leading names kept
# deliberately — SURVEY §1 identifier hazard). Explicit pivot values skip
# the distinct-values pre-job (scale note in operators/reshape.py).
def _r2(spark: SparkSession, sf: str) -> DataFrame:
    li = _lineitem_with_year(spark, sf)
    return pivot_wide(
        li,
        ids=["l_returnflag"],
        pivot_column="ship_year",
        value_column="l_quantity",
        agg="sum",
        pivot_values=SHIP_YEARS,
    )


_R2_ORACLE_COLS = ",\n".join(
    f'sum(l_quantity) FILTER (year(l_shipdate) = {y}) AS "{y}"' for y in SHIP_YEARS
)

register(
    QuerySpec(
        name="r2_pivot_wide",
        build=_r2,
        doc="R2 pivot, inverse of the reference's melt (SURVEY §2.8)",
        oracle=f"SELECT l_returnflag, {_R2_ORACLE_COLS} FROM lineitem GROUP BY l_returnflag",
    )
)


# R1 melt: wide → long as ONE Expand projection, not the reference's
# 61-way union loop (serving_layer.py:100-136). Built on the pivoted wide
# frame, so round-trips back to a plain two-key aggregate.
def _r1(spark: SparkSession, sf: str) -> DataFrame:
    wide = _r2(spark, sf)
    long = melt(
        wide,
        ids=["l_returnflag"],
        value_columns=[str(y) for y in SHIP_YEARS],
        var_name="ship_year",
        value_name="sum_qty",
        var_cast="int",
    )
    return long.where(F.col("sum_qty").isNotNull())


register(
    QuerySpec(
        name="r1_unpivot_melt",
        build=_r1,
        headline=True,
        doc="R1 unpivot/melt via single Expand (serving_layer.py:100-136 semantics)",
        oracle="""
        SELECT l_returnflag, year(l_shipdate) AS ship_year,
               sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY 1, 2
        """,
    )
)


# --------------------------------------------------------------------------
# U-surface: decade label three ways (udf_complex_logic.py). Same oracle —
# results must be identical; only the execution path differs.
_DECADE_ORACLE = """
SELECT o_orderkey,
       CAST(CAST(floor(year(o_orderdate) / 10) * 10 AS INT) AS VARCHAR) || 's' AS decade
FROM orders
"""


def _u_frame(spark: SparkSession, sf: str) -> DataFrame:
    return read_testdata(spark, sf, "orders").withColumn("order_year", F.year("o_orderdate"))


register(
    QuerySpec(
        name="u0_decade_native",
        build=lambda spark, sf: _u_frame(spark, sf).select(
            "o_orderkey", decade_native("order_year").alias("decade")
        ),
        doc="native Catalyst decade expr (udf_complex_logic.py:8 doctrine)",
        oracle=_DECADE_ORACLE,
    )
)

register(
    QuerySpec(
        name="u1_decade_python_udf",
        build=lambda spark, sf: _u_frame(spark, sf).select(
            "o_orderkey", decade_python_udf("order_year").alias("decade")
        ),
        doc="U1 row-pickled Python UDF (udf_complex_logic.py:49-57)",
        oracle=_DECADE_ORACLE,
    )
)

register(
    QuerySpec(
        name="u2_decade_pandas_udf",
        build=lambda spark, sf: _u_frame(spark, sf).select(
            "o_orderkey", decade_pandas_udf("order_year").alias("decade")
        ),
        doc="U2 Arrow pandas UDF (udf_complex_logic.py:86-93)",
        oracle=_DECADE_ORACLE,
    )
)


# --------------------------------------------------------------------------
# E2 SQL-string entry (curate_data.py:234-238): same lifecycle as the
# DataFrame chain; flagship TPC-H Q1-style pricing summary.
_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q1(spark: SparkSession, sf: str) -> DataFrame:
    register_testdata_views(spark, sf)
    return spark.sql(_Q1_SQL)


register(
    QuerySpec(
        name="tpch_q1_pricing_summary",
        build=_q1,
        headline=True,
        doc="E2 SQL entry, TPC-H Q1-shaped pricing summary (curate_data.py:234-238)",
        oracle=_Q1_SQL,
    )
)


# TPC-H Q3-shaped: selective dim filter → fact join → grouped revenue →
# global top-10. Exercises join + agg + TakeOrdered end-to-end.
def _q3(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_testdata(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = read_testdata(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = read_testdata(spark, sf, "lineitem")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .withColumn("disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    )
    rev = joined.groupBy("l_orderkey").agg(F.round(F.sum("disc_price"), 2).alias("revenue"))
    return rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


register(
    QuerySpec(
        name="tpch_q3_top_revenue_orders",
        build=_q3,
        headline=True,
        doc="Q3-shaped join+agg+top-k pipeline",
        oracle="""
        SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
    )
)


# JSON scalar extraction over events.props (FIXTURES.md note).
register(
    QuerySpec(
        name="json_extract_props",
        build=lambda spark, sf: read_testdata(spark, sf, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        ),
        doc="JSON scalar extraction (events.props, FIXTURES.md)",
        oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
        """,
    )
)


# --------------------------------------------------------------------------
# RFM customer segmentation — the classic BI windowed-quintile shape:
# per-customer recency/frequency/monetary out of ONE orders aggregate,
# then three ntile(5) windows over the O(customers) intermediate (never
# over raw orders). Every metric is BIGINT (days, counts, price cents)
# and every window ORDER BY carries the custkey tie-break, so ntile's
# bucket assignment is a deterministic total order both engines replay
# bit-exactly (both put remainder rows in the leading buckets).
# Dialect split is datediff spelling only (Spark datediff(end, start)
# vs DuckDB date_diff('day', start, end)).
#
# Scale honesty: an un-partitioned ntile is a single-partition sort —
# fine over thousands-to-millions of customer rows (it never sees raw
# orders), but at a 10^8-customer scale the swap is percentile
# breakpoints (exact or sketch) + a broadcast range-assignment join,
# which reproduces the same buckets up to boundary ties.
_RFM_BODY = """
WITH m AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents,
         max(o_orderdate) AS last_order
  FROM orders GROUP BY o_custkey
),
g AS (SELECT max(o_orderdate) AS nowd FROM orders),
r AS (
  SELECT o_custkey, frequency, monetary_cents,
         CAST({datediff} AS BIGINT) AS recency_days
  FROM m CROSS JOIN g
)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_q,
       ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_q,
       ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_q
FROM r
"""

_RFM_SPARK = f"""
SELECT o_custkey, recency_days, frequency, monetary_cents, r_q, f_q, m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
FROM ({_RFM_BODY.format(datediff="datediff(nowd, last_order)")})
"""

_RFM_ORACLE = f"""
SELECT o_custkey, recency_days, frequency, monetary_cents, r_q, f_q, m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
FROM ({_RFM_BODY.format(datediff="date_diff('day', last_order, nowd)")})
"""


def _rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    register_testdata_views(spark, sf)
    return spark.sql(_RFM_SPARK)


register(
    QuerySpec(
        name="orders_rfm_segments",
        build=_rfm_segments,
        doc="RFM quintile segmentation: one orders aggregate + three "
        "tie-broken ntile(5) windows over the O(customers) intermediate; "
        "all-BIGINT metrics, deterministic bucket boundaries",
        oracle=_RFM_ORACLE,
    )
)


def _monetary_quintiles_breakpoint(spark: SparkSession, sf: str) -> DataFrame:
    """The RFM windows' documented 10⁸-customer scale path, exercised
    END-TO-END against the un-partitioned-ntile oracle: per-customer
    monetary cents bucket into quintiles via percentile breakpoints +
    broadcast range assignment (``aggregates.breakpoint_ntile`` — one
    mergeable-sketch pass, no global sort) instead of the single-
    partition ntile window. Exact ntile agreement holds because the
    bucketing VALUE is the tie-broken composite mc·2²¹ + custkey:
    fully distinct (so boundary ties can't split), < 2⁵³ (the sketch's
    double storage stays exact — max ≈ 1.5·10¹⁵ at sf0.1), and
    N ≤ accuracy at every fixture SF (the sketch stores the sample
    exactly, so each queried (r−½)/N fraction selects precisely
    ntile's boundary rank). The DuckDB oracle runs the plain ntile
    window over the same composite — agreement verified at all three
    fixture SFs before registration.

    VALIDITY BOUND (r12 advice): the ``mc·2²¹ + custkey`` packing is
    order-preserving only while ``o_custkey < 2²¹`` (~2.1M — true up to
    ~sf14 TPC-H) AND the product stays < 2⁵³; past either bound the key
    bits bleed into the monetary bits (wrong ordering) or exceed the
    sketch's exact-double range. The composite below asserts both
    bounds per-row (a CASE + ``raise_error`` folded into the packing
    expression — no extra pass, fails loudly instead of mis-ranking).
    For true 10⁸-row deployments use a (value, key) struct percentile —
    rank the struct lexicographically instead of packing — or salt
    ranks within equal values; the packing is the fixture-scale fast
    path, not the unbounded one."""
    from data_pipeline_with_spark_spark.operators.aggregates import (
        breakpoint_ntile,
    )

    orders = read_testdata(spark, sf, "orders")
    m = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "monetary_cents"
        )
    )
    packed = F.col("monetary_cents") * F.lit(2**21) + F.col("o_custkey")
    in_bounds = (F.col("o_custkey") < F.lit(2**21)) & (
        F.col("monetary_cents") < F.lit(2**53 // 2**21)
    )
    comp = m.withColumn(
        "__v",
        F.when(in_bounds, packed).otherwise(
            F.expr(
                "CAST(raise_error('monetary composite packing bound exceeded:"
                " needs o_custkey < 2^21 and monetary_cents < 2^32 —"
                " switch to the struct-percentile formulation') AS BIGINT)"
            )
        ),
    )
    return breakpoint_ntile(
        comp, "__v", n=5, bucket_col="m_q", accuracy=200_000
    ).select("o_custkey", "monetary_cents", "m_q")


register(
    QuerySpec(
        name="orders_monetary_quintiles_breakpoint",
        build=_monetary_quintiles_breakpoint,
        doc="monetary quintiles via percentile breakpoints + broadcast range "
        "assignment (the RFM ntile scale swap, oracle-checked against the "
        "window it replaces)",
        oracle="""
        WITH m AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
          FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, monetary_cents,
               CAST(ntile(5) OVER (
                 ORDER BY monetary_cents * 2097152 + o_custkey
               ) AS INT) AS m_q
        FROM m
        """,
    )
)


def _u4_grouped_agg(spark: SparkSession, sf: str) -> DataFrame:
    """U4: GROUPED_AGG pandas UDF — per-priority order-value totals via
    the Arrow Series→scalar path, with the mean as BIGINT division
    outside the UDF (the UDF returns an order-free integer sum, so the
    result is bit-identical to the native aggregate the oracle runs)."""
    from data_pipeline_with_spark_spark.functions.udfs import (
        count_grouped_agg,
        sum_cents_grouped_agg,
    )

    orders = read_testdata(spark, sf, "orders")
    return (
        orders.withColumn(
            "__c", F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        )
        .groupBy("o_orderpriority")
        .agg(
            sum_cents_grouped_agg(F.col("__c")).alias("sum_cents"),
            count_grouped_agg(F.col("__c")).alias("n_orders"),
        )
        .withColumn(
            "mean_cents", F.expr("CAST(sum_cents div n_orders AS BIGINT)")
        )
    )


register(
    QuerySpec(
        name="u4_grouped_agg_pandas_udf",
        build=_u4_grouped_agg,
        doc="GROUPED_AGG pandas UDF (Arrow Series→scalar): integer sum per "
        "group inside the UDF, BIGINT-division mean outside — order-free, "
        "native-equal; completes the §2.10 native/row/scalar-pandas/"
        "grouped-agg taxonomy",
        oracle="""
        SELECT o_orderpriority,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
                 AS BIGINT) AS mean_cents
        FROM orders GROUP BY o_orderpriority
        """,
    )
)


def _a13_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A13: salted two-phase aggregation (operators/aggregates.py
    `salted_group_agg`) — the skew-mitigation face of A1: partial
    aggregate on (key, salt) spreads a hot key over `salt_buckets`
    reducers, the final aggregate folds the partials. Result is
    bit-identical to the plain aggregate for algebraic BIGINT
    aggregates (integer sums are order/partition-free), which is
    exactly what the oracle checks; l_returnflag at 3 distinct values
    IS the few-hot-keys regime the pattern exists for."""
    from data_pipeline_with_spark_spark.operators.aggregates import (
        salted_group_agg,
    )

    li = read_testdata(spark, sf, "lineitem").withColumn(
        "qty_i", F.col("l_quantity").cast("bigint")
    ).withColumn(
        "price_cents", F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    )
    out = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "n_rows": ("count", "l_orderkey"),
            "sum_qty": ("sum", "qty_i"),
            "sum_price_cents": ("sum", "price_cents"),
        },
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_qty").cast("bigint").alias("sum_qty"),
        F.col("sum_price_cents").cast("bigint").alias("sum_price_cents"),
    )


register(
    QuerySpec(
        name="a13_salted_skew_agg",
        build=_a13_salted_agg,
        doc="salted two-phase aggregation (partial on (key, salt), final "
        "fold on key): the hot-key mitigation for A1, bit-identical to the "
        "plain aggregate for algebraic BIGINT aggregates",
        oracle="""
        SELECT l_returnflag,
               CAST(count(l_orderkey) AS BIGINT) AS n_rows,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_price_cents
        FROM lineitem GROUP BY l_returnflag
        """,
    )
)


def _j8_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """J8: salted skew join (operators/joins.py `salted_skew_join`) —
    the hot-key join mitigation: the fact side salts into 16 random
    buckets, the dim side replicates across all buckets, so one
    pathological key spreads over 16 reducers instead of melting one.
    Folded to a per-priority BIGINT aggregate so the oracle checks the
    join's full content order-free (the salt is execution detail; the
    joined multiset is identical to the plain join by construction)."""
    from data_pipeline_with_spark_spark.operators.joins import (
        salted_skew_join,
    )

    li = read_testdata(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
    )
    orders = read_testdata(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        salted_skew_join(li, orders, key="o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum("price_cents").cast("bigint").alias("sum_price_cents"),
        )
    )


register(
    QuerySpec(
        name="j8_salted_skew_join",
        build=_j8_salted_join,
        doc="salted skew join (fact side salted into 16 buckets, dim side "
        "replicated): hot-key join mitigation; per-priority BIGINT fold "
        "proves the joined multiset equals the plain join",
        oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lineitems,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_price_cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        """,
    )
)
