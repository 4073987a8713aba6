"""Ordered-op and SQL-surface queries, batch 2: Zip pad/window,
FlatWindow, ExPrefixSum, GroupToIndex, Concat, rollup/pivot/top-k —
registered into the same QUERIES/ORACLES dicts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from thrill_spark import ordering as O
from thrill_spark.catalog import load_table
from thrill_spark.operators import basic as B
from thrill_spark.operators import join as J
from thrill_spark.plans.queries import _dbl, _dec, query
from thrill_spark.session import local_frame


# ---------------------------------------------------------------------------
# Zip PadTag (thrill/api/zip.hpp PadTag: pad shorter inputs w/ defaults)
# ---------------------------------------------------------------------------
@query(
    "zip_pad_customers_suppliers",
    """
    WITH c AS (SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS _idx, c_custkey FROM customer),
         s AS (SELECT ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS _idx, s_suppkey FROM supplier)
    SELECT COALESCE(c._idx, s._idx) AS _idx,
           COALESCE(c_custkey, -1) AS c_custkey,
           COALESCE(s_suppkey, -1) AS s_suppkey
    FROM c FULL OUTER JOIN s ON c._idx = s._idx
    """,
)
def q_zip_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return O.zip_dfs(
        [cust, supp],
        [["c_custkey"], ["s_suppkey"]],
        how="pad",
        pad_defaults=[{"c_custkey": -1}, {"s_suppkey": -1}],
    ).select("_idx", "c_custkey", "s_suppkey")


# ---------------------------------------------------------------------------
# ZipWindow (thrill/api/zip_window.hpp:175): zip blocks of w_i items
# ---------------------------------------------------------------------------
@query(
    "zip_window_orders_customers",
    """
    WITH ob AS (
      SELECT (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) // 10 AS win,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders),
    oagg AS (SELECT win, CAST(SUM(p) AS DOUBLE) AS block_total, COUNT(*) AS block_n FROM ob GROUP BY win),
    cb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS win, c_custkey
      FROM customer)
    SELECT oagg.win AS win, block_total, block_n, c_custkey
    FROM oagg JOIN cb ON oagg.win = cb.win
    """,
)
def q_zip_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", _dec("o_totalprice").alias("p"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ob = O.disjoint_window(
        orders, ["o_orderkey"], size=10,
        aggs={"block_total": F.sum("p"), "block_n": F.count("*")},
        window_col="win",
    ).select("win", _dbl(F.col("block_total")).alias("block_total"), "block_n")
    cb = O.with_index(cust, ["c_custkey"], name="win")
    return ob.join(cb, on="win", how="inner").select("win", "block_total", "block_n", "c_custkey")


# ---------------------------------------------------------------------------
# FlatWindow (thrill/api/dia.hpp:1925-1980): window fn emitting values —
# consecutive-pair delta via a k=2 sliding window
# ---------------------------------------------------------------------------
@query(
    "flat_window_price_delta",
    """
    SELECT o_orderkey, CAST(p - prev_p AS DOUBLE) AS delta FROM (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p,
             lag(CAST(o_totalprice AS DECIMAL(18,2))) OVER (ORDER BY o_orderkey) AS prev_p
      FROM orders)
    WHERE prev_p IS NOT NULL
    """,
)
def q_flat_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", _dec("o_totalprice").alias("p"))
    win = O.sliding_window(
        orders, ["o_orderkey"], size=2, aggs={"prev_p": F.first("p")}
    )
    return win.select("o_orderkey", _dbl(F.col("p") - F.col("prev_p")).alias("delta"))


# ---------------------------------------------------------------------------
# ExPrefixSum (thrill/api/ex_prefix_sum.hpp): exclusive running sum
# ---------------------------------------------------------------------------
@query(
    "ex_prefix_sum_quantity",
    """
    SELECT o_orderkey,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS DOUBLE) AS running_before
    FROM orders
    """,
)
def q_ex_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", _dec("o_totalprice").alias("p"))
    out = O.prefix_sum(orders, ["o_orderkey"], "p", name="running_before", exclusive=True)
    return out.select("o_orderkey", _dbl(F.col("running_before")).alias("running_before"))


# ---------------------------------------------------------------------------
# GroupToIndex (thrill/api/group_to_index.hpp:42): dense grouped arrays
# ---------------------------------------------------------------------------
@query(
    "group_to_index_names",
    """
    SELECT CAST(r.range AS BIGINT) AS n_nationkey,
           COALESCE(g.name_list, '') AS name_list
    FROM range(25) r LEFT JOIN (
      SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS name_list
      FROM customer GROUP BY c_nationkey
    ) g ON r.range = g.c_nationkey
    """,
)
def q_group_to_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    agged = cust.groupBy(F.col("c_nationkey").cast("long").alias("n_nationkey")).agg(
        F.concat_ws(",", F.sort_array(F.collect_list("c_name"))).alias("name_list")
    )
    dense = spark.range(25).withColumnRenamed("id", "n_nationkey")
    return dense.join(agged, on="n_nationkey", how="left").select(
        "n_nationkey", F.coalesce(F.col("name_list"), F.lit("")).alias("name_list")
    )


# ---------------------------------------------------------------------------
# Concat order-preserving (thrill/api/concat.hpp:35)
# ---------------------------------------------------------------------------
@query(
    "concat_customers_suppliers",
    """
    WITH c AS (SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS _idx, c_name AS name FROM customer),
         s AS (SELECT (SELECT COUNT(*) FROM customer) + ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS _idx,
                      s_name AS name FROM supplier)
    SELECT _idx, name FROM c UNION ALL SELECT _idx, name FROM s
    """,
)
def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"), F.col("c_name").alias("name"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"), F.col("s_name").alias("name"))
    return O.concat([cust, supp], [["k"], ["k"]]).select("_idx", "name")


# ---------------------------------------------------------------------------
# Rollup / cube / pivot / distinct — SQL-surface freebies (SURVEY §2.4
# "Missing vs SQL"), exposed as first-class ops
# ---------------------------------------------------------------------------
@query(
    "rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dbl(F.sum(_dec("l_quantity"))).alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), _dbl(F.sum(_dec("o_totalprice"))).alias("total")
    )


@query(
    "pivot_flag_by_status",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")))
    )
    return out.select(
        "l_returnflag", _dbl(F.col("O")).alias("qty_O"), _dbl(F.col("F")).alias("qty_F")
    )


@query(
    "top_k_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "distinct_counts",
    """
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# EqualToDIA (thrill/api/equal_to_dia.hpp:30): driver vector -> DIA
# ---------------------------------------------------------------------------
@query(
    "equal_to_dia_priority_labels",
    """
    SELECT label, COUNT(*) AS n FROM orders
    JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
                 ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold')) AS m(prio, label)
      ON o_orderpriority = prio
    GROUP BY label
    """,
)
def q_equal_to_dia(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = local_frame(
        spark,
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "o_orderpriority string, label string",
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        J.inner_join(orders, labels, on=["o_orderpriority"], broadcast_right=True)
        .groupBy("label")
        .agg(F.count("*").alias("n"))
    )
