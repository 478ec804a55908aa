"""Relational query surface — the capabilities the reference exercises
through Cypher (SURVEY.md §2.B, B1-B11) plus the scale extensions (X1-X5),
as declarative DataFrame programs Q1-Q12.

Each query is a function ``(spark, sf_dir) -> DataFrame`` whose result
hash-matches the DuckDB oracle SQL in ``ORACLE`` (same column names — every
computed column aliased identically on both sides; floating-point aggregates
rounded to 2dp so partition-order summation differences can't flip a hash).

Plan-shape notes (verified with ``.explain("formatted")`` at sf0.1):
- label/key predicates reach the parquet scan as ``PushedFilters``;
- projections prune the scan's ``ReadSchema`` to referenced columns;
- nation/customer-side joins broadcast (small dims), orders/lineitem joins
  hash-shuffle on the key with AQE skew handling;
- aggregations are partial (map-side combine) before the exchange;
- top-k is ``TakeOrderedAndProject`` — no global sort materialization.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_neo4j_spark.catalog import load_table
from flink_neo4j_spark.graph import local_frame

QueryFn = Callable[[SparkSession, str], DataFrame]


# --------------------------------------------------------------------------
# B1/B3 — node scan by label + property projection
# Cypher: MATCH (n:User) RETURN id(n), n.name, n.born   (README.md:20)
def q1_node_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_custkey", "c_name", "c_nationkey").orderBy("c_custkey")


# B2/B3 — edge pattern scan: edge table joined to endpoint ids
# Cypher: MATCH (a:User)-[e]->(b:User) RETURN id(e), id(a), id(b), e.since
#         (Neo4jInputTest.java:46)
def q2_edge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # customer is the dimension side: broadcast it so the fact scan of
    # orders never shuffles (at 100 TB the orders side stays partition-local).
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_custkey", "c_nationkey")
        .orderBy("o_orderkey")
    )


# B4 — equality + disjunction predicate
# Cypher: WHERE n.name = 'Frank' OR n.name = 'Dave'  (Neo4jOutputTest.java:52-53)
def q3_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_nationkey") == 0) | (F.col("c_nationkey") == 1))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# B5 — null/missing-property semantics (absent property -> NullValue,
# Neo4jInputFormat.java:117-118)
def q4_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
    ).orderBy("c_custkey")


# B7/B8 — join-update projection: UNWIND {updates} MATCH (p) WHERE p.name=u.name
# SET p.weight = u.weight ...  (Neo4jOutputTest.java:83-87)
def q5_join_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("nation_name"))
        .orderBy("c_custkey")
    )


# B6 — UNWIND+CREATE as literal-batch append (README.md:45)
def q6_batch_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    batch = local_frame(
        spark, [(900001, "Frank"), (900002, "Dave")], "c_custkey long, c_name string"
    )
    return c.unionAll(batch).orderBy("c_custkey")


# B10/B11 — grouped count; invariant under repartition/batch-size choice
def q7_grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey").agg(F.count("*").alias("cnt")).orderBy("c_nationkey")
    )


# X1 — multi-key hash aggregation with arithmetic (TPC-H Q1 shape)
def q8_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# X2 — date predicate (pushdown + partition pruning at scale)
def q9_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return l.filter(
        (d >= F.lit("1995-01-01").cast("date")) & (d < F.lit("1996-01-01").cast("date"))
    ).agg(F.count("*").alias("cnt"))


# X3 — global top-k: TakeOrderedAndProject, not a full sort
def q10_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# X4 — event-time daily bucketing (batch form of a tumbling window)
def q11_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
        .orderBy("user_id", "day")
    )


# X5 — exact distinct count (LLM-pipeline dedup primitive)
def q12_distinct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(F.count_distinct("text").alias("distinct_docs"))


# X1+X2+X3 composed — TPC-H Q3 shape: selective dimension filter, two-level
# fact join, grouped revenue, top-k. The canonical Catalyst showcase: the
# mktsegment and date predicates push to the scans, customer broadcasts into
# orders, the orders->lineitem join shuffles on the order key (AQE-skew-safe),
# aggregation is partial before the exchange, and the final top-k is
# TakeOrderedAndProject — the plan a 1000-executor cluster wants.
def q13_order_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-06-01").cast("date")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-06-01").cast("date")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# TPC-H Q5 shape: six-table join (region->nation->customer->orders->lineitem
# with the supplier co-nationality condition), grouped by nation. Exercises
# join reordering, multi-broadcast of the dimension chain, and a compound
# equi-join condition on the supplier edge.
def q14_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# Window functions: per-partition rank + lag — one shuffle on the partition
# key, then a per-partition sort; no global sort anywhere.
def q16_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        )
        .filter(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    )


# Set operations: EXCEPT (customers without orders) and INTERSECT (negative-
# balance customers that do have orders), tagged and unioned.
def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    custs = c.select(F.col("c_custkey").alias("key"))
    orderers = o.select(F.col("o_custkey").alias("key"))
    no_orders = custs.subtract(orderers).select(
        F.lit("no_orders").alias("tag"), "key"
    )
    neg_with_orders = (
        c.filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("key"))
        .intersect(orderers)
        .select(F.lit("neg_bal_with_orders").alias("tag"), "key")
    )
    return no_orders.unionByName(neg_with_orders).orderBy("tag", "key")


# Percentile analytics: Spark's exact `percentile` (not percentile_approx)
# interpolates identically to DuckDB's quantile_cont, so the result is
# oracle-checkable. At 100 TB switch to percentile_approx with a bounded
# error — exact percentile sorts per group.
def q18_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 2).alias("p50_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 2).alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


# Q36 — exact percentiles AT SCALE via value histogram: q18's exact
# `percentile` buffers every value of a group in one reducer's memory (the
# 100 TB hazard its comment flags; only 3 groups exist, so 3 reducers hold
# the whole table). For a bounded-precision column the exact answer
# decomposes: (1) a (key, value) COUNT histogram — map-side partial agg,
# shuffle keyed by (key, value) so hot KEYS still spread across reducers;
# (2) a window cumsum over each key's (tiny) distinct-value set, giving the
# row-index span [lo, hi] each value covers; (3) percentile_cont
# interpolation between the two covering cells. Bit-identical to
# quantile_cont/percentile, with nothing larger than the distinct-value set
# ever held in one place.
Q36_PS = (0.5, 0.9)


def q36_histogram_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    l = load_table(spark, sf_dir, "lineitem")
    # localCheckpoint: the histogram feeds both the cumsum window and the
    # per-key totals, with no ReusedExchange between them — materializing
    # the (key, value, count) frame (size = keys x distinct values, tiny)
    # keeps the big lineitem scan single-pass
    hist = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint()
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    cells = hist.withColumn("hi", F.sum("c").over(w) - 1).withColumn(
        "lo", F.col("hi") - F.col("c") + 1
    )
    stats = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    j = cells.join(F.broadcast(stats), "l_returnflag")
    aggs = []
    for p in Q36_PS:
        pos = (F.col("n") - 1) * F.lit(p)
        k1, k2 = F.floor(pos), F.ceil(pos)
        vl = F.max(
            F.when((F.col("lo") <= k1) & (F.col("hi") >= k1), F.col("l_quantity"))
        )
        vu = F.max(
            F.when((F.col("lo") <= k2) & (F.col("hi") >= k2), F.col("l_quantity"))
        )
        aggs.append(
            F.round(vl + (vu - vl) * (pos - k1), 2).alias(f"p{int(p * 100)}_qty")
        )
    return (
        j.groupBy("l_returnflag", "n")
        .agg(*aggs)
        .drop("n")
        .orderBy("l_returnflag")
    )


# Q37 — UNPIVOT (wide -> long reshape, the inverse of q25's PIVOT): melt a
# wide per-key stats row into (key, metric, val) triples with `stack`, the
# expression form Spark plans as a single Expand over one scan — never a
# UNION of per-metric rescans. The metric set is static (schema must be
# known before execution, as with PIVOT's value list).
def q37_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
    )
    return wide.selectExpr(
        "l_returnflag",
        "stack(3, 'cnt', cnt, 'price', price, 'qty', qty) AS (metric, val)",
    ).orderBy("l_returnflag", "metric")


# Q38 — quantile bucketing via ntile + percent_rank: the feature-
# engineering pass that turns a continuous column into per-group quartile
# labels and normalized ranks (price-tier features, stratified binning).
# One shuffle on the window partition key; both functions are rank-based,
# so with a tie-broken total ordering (price, orderkey) the assignment is
# cross-engine deterministic — percent_rank's (r-1)/(n-1) is an exact
# integer ratio evaluated identically in both engines.
def q38_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
    ).orderBy("o_orderkey")


# ROLLUP: hierarchical subtotals (returnflag -> linestatus -> grand total) in
# one pass — Expand + single hash aggregation, no multi-scan union.
def q19_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# Semi join (EXISTS) — TPC-H Q4 shape: order priority distribution of orders
# having at least one returned line. LeftSemi never duplicates or widens the
# probe side, so the orders scan streams through one hash join; the lineitem
# side is reduced to the join key early (column pruning to l_orderkey +
# pushed l_returnflag filter).
def q20_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .orderBy("o_orderpriority")
    )


# Anti join + scalar subquery — TPC-H Q22 shape: customers whose balance
# exceeds the average positive balance and who never ordered. The scalar
# aggregate is crossJoin(broadcast(1-row agg)) — no collect to the driver —
# and the NOT EXISTS is a LeftAnti against the (pruned) orders key column.
def q21_anti_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# Group-wise threshold (correlated aggregate subquery) — TPC-H Q17 shape:
# revenue from lines ordering less than 20% of their part's average quantity.
# The per-part average re-aggregates lineitem on the SAME key the join uses,
# so both shuffles land on l_partkey and AQE can reuse the exchange; no
# row-by-row correlated execution anywhere.
def q22_groupwise_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    part_avg = l.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        l.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# Conditional aggregation — TPC-H Q12 shape: pivot-style counts of high- vs
# low-priority orders per line status, one pass, no separate filtered scans.
def q23_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# Deterministic train/test split — the reproducible sampling primitive a
# training-data pipeline needs: bucket by a content hash (md5 of the key),
# not by rand(), so the split is stable across engines, runs, partitionings,
# and retries (Spark task retry re-evaluates rand() and silently reassigns
# rows). First hex byte < 0x1a ~= 10.2% test fraction. Pure narrow map — no
# shuffle until the final tiny aggregate.
def q24_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    split = (
        F.when(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) < "1a", "test"
        )
        .otherwise("train")
        .alias("split")
    )
    return (
        c.select(split, "c_acctbal")
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
        .orderBy("split")
    )


# PIVOT — long-to-wide reshaping with explicit pivot values (explicit so the
# plan needs no extra distinct-collect pass over the data, and so the output
# schema is static — both required at scale).
def q25_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )


# TPC-H Q19 shape: disjunction of conjunctive predicates spanning BOTH join
# sides (part attributes AND lineitem attributes in each OR arm). The
# optimizer test: the part-only and lineitem-only parts of the predicate
# must still push to their scans (Catalyst factors common conjuncts out of
# the OR), and the join stays a broadcast hash join on partkey.
def q26_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity") >= 10)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity") >= 30)
    )
    return j.filter(arm1 | arm2).agg(
        F.count("*").alias("cnt"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# TPC-H Q7 shape: bi-directional nation pairing (NATION_1->NATION_2 OR
# NATION_2->NATION_1) across a customer-orders x supplier-lineitem join, grouped
# by the ordered nation pair and ship year. The disjunctive pair predicate
# evaluates after both nation dimensions broadcast.
def q27_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# Sketch analytics — approx_count_distinct (HyperLogLog++) and
# percentile_approx (GK quantile sketch): the 100 TB forms of q12/q18, where
# exact distinct/percentile would shuffle or sort the full column. Sketch
# internals differ across engines by design, so there is no DuckDB oracle
# (driver records the rows-only check); tests/test_sketches.py bounds both
# against their exact counterparts instead.
def q28_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    l = load_table(spark, sf_dir, "lineitem")
    approx_docs = d.agg(
        F.approx_count_distinct("text", rsd=0.02).alias("approx_distinct_docs")
    )
    approx_p = l.agg(
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("p90_price_approx")
    )
    return approx_docs.crossJoin(approx_p)


# MERGE upsert — the reference's UNWIND..MATCH..SET updates existing rows
# only (Neo4jOutputTest.java:83-87); MERGE is its upsert form (update when
# matched, insert when not). Expressed as a full outer join on the key with
# per-column coalesce(new, old) — the engine-level semantics Delta's MERGE
# compiles to. The update batch is dimension-sized, so it broadcasts; the
# base table never shuffles.
def q29_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    updates = local_frame(
        spark,
        [
            (1, "ACCT_RESET", 0.0),       # update: existing key
            (2, None, 999.99),            # partial update: name keeps old value
            (900001, "Frank", 10.0),      # insert: new key
            (900002, "Dave", 20.0),       # insert: new key
        ],
        "u_custkey long, u_name string, u_acctbal double",
    )
    merged = c.join(
        F.broadcast(updates), c.c_custkey == updates.u_custkey, "full_outer"
    )
    return merged.select(
        F.coalesce("c_custkey", "u_custkey").alias("c_custkey"),
        F.coalesce("u_name", "c_name").alias("c_name"),
        F.coalesce("u_acctbal", "c_acctbal").alias("c_acctbal"),
    ).orderBy("c_custkey")


# Distinct-count aggregation with an exclusion list — TPC-H Q16 shape:
# distinct suppliers per part attribute, excluding a predicated supplier set.
# The exclusion is a LeftAnti join (NOT IN over a non-null key column; anti
# join sidesteps SQL NOT IN's three-valued-logic null trap and is the only
# formulation that scales — NOT IN compiles to a nested-loop against an
# in-list otherwise).
def q30_distinct_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(excluded), l.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy("p_brand")
    )


# GROUPING SETS via CUBE + grouping_id: all four grouping combinations of
# (returnflag, linestatus) in ONE scan — Catalyst's Expand emits one row per
# grouping set per input row into a single hash aggregation, instead of four
# scans unioned. grouping_id() disambiguates "NULL because subtotal" from a
# genuine NULL group value, which matters for downstream consumers at scale
# (can't rely on NULL sentinel semantics in 100 TB rollup tables).
def q33_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "cnt", "sum_qty")
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# TPC-H Q21 shape — "suppliers who kept multi-supplier orders waiting":
# among orders with >= 2 distinct suppliers, find orders whose latest-shipping
# lineitems all came from ONE supplier (that supplier alone delayed the
# order), and count such orders per supplier. The EXISTS/NOT-EXISTS pair of
# the original compiles here to two grouped aggregations over the same
# shuffled-by-orderkey run: max-shipdate + distinct-supplier count, then a
# distinct-supplier count over only the latest items — no correlated
# subquery re-scan, no semi-join against a second lineitem pass. Everything
# partial-aggregates; the supplier name attach is a broadcast.
def q39_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_order = l.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.count_distinct("l_suppkey").alias("nsupp"),
    )
    latest = (
        l.join(per_order, "l_orderkey")
        .filter((F.col("l_shipdate") == F.col("max_ship")) & (F.col("nsupp") >= 2))
    )
    sole = (
        latest.groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("nlate"),
            F.min("l_suppkey").alias("supp"),
        )
        .filter(F.col("nlate") == 1)
    )
    return (
        sole.groupBy("supp")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("supp") == s.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# TPC-H Q15 shape — top supplier by quarterly revenue via a scalar-max
# subquery: revenue per supplier over one shipdate quarter, then keep the
# supplier(s) whose revenue equals the maximum. The max is a 1-row aggregate
# crossJoin-broadcast back onto the (already tiny, supplier-cardinality)
# revenue table — never a window over the full fact scan and never a
# driver-side collect. Revenue is rounded to 2dp BEFORE the max/equality so
# partition-order summation noise cannot make the engine and oracle disagree
# about who is on top.
def q40_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


# TPC-H Q11 shape — groups whose value exceeds a fraction of the GLOBAL
# total: per-nation lineitem value (supplier nation attached by broadcast),
# kept only when above GLOBAL_SHARE of the corpus-wide total. The global
# total is a second 1-row aggregate over the (nation-cardinality) value
# table — the fact table is scanned ONCE; the threshold compare happens on
# the tiny side. The filter uses the unrounded values (a share boundary is
# never an exact tie on real revenue sums); only the OUTPUT columns round.
GLOBAL_SHARE = 0.03


def q41_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    val = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "nation_val"
            )
        )
        .localCheckpoint()  # feeds both the total and the probe side
    )
    total = val.agg(F.sum("nation_val").alias("corpus_val"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("nation_val") > GLOBAL_SHARE * F.col("corpus_val"))
        .join(F.broadcast(n), val.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.round("nation_val", 2).alias("value"),
            F.round(F.col("nation_val") / F.col("corpus_val"), 4).alias("share"),
        )
        .orderBy(F.col("value").desc(), "n_name")
    )


# Q43 — incremental aggregate-state MERGE: the re-aggregation identity every
# incremental ETL relies on (yesterday's rollup + today's delta == full
# recompute). The data is split into two "batches" (event_id parity stands in
# for old/new partitions), each aggregated independently, and the two state
# tables are merged by RE-AGGREGATING the mergeable states: count→SUM,
# sum→SUM, min→MIN, max→MAX. The oracle recomputes from scratch — if any
# state were not mergeable (e.g. a naive avg), the hashes would diverge.
# At 100 TB this is the pattern that turns a daily full-table rollup into a
# delta-sized job; avg/stddev ride along as (sum, count) / (sum, sumsq)
# pairs, re-derived after the merge (avg shown).
def q43_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sums accumulate INTEGER cents, not doubles: float addition is not
    # associative, so a two-stage double sum can land on the other side of
    # a ROUND boundary than the oracle's one-stage sum depending on
    # partition layout (observed: same values in-process, hash-flip in a
    # fresh 8-partition session). Integer accumulation is order-independent
    # — the merge identity holds BIT-exactly on any cluster layout, which
    # is also the production-correct discipline for mergeable money/metric
    # states.
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("cnt"),
            F.sum("cents").alias("sc"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    old = partial(e.filter(F.col("event_id") % 2 == 0))
    new = partial(e.filter(F.col("event_id") % 2 == 1))
    return (
        old.unionByName(new)
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.round(F.sum("sc") / 100.0, 2).alias("sum_value"),
            F.round(F.min("mn"), 2).alias("min_value"),
            F.round(F.max("mx"), 2).alias("max_value"),
            F.round(F.sum("sc") / 100.0 / F.sum("cnt"), 4).alias("avg_value"),
        )
        .orderBy("user_id")
    )


# Q44 — TPC-H Q13 shape: distribution of customers by order count,
# INCLUDING zero-order customers (the left join is the point — an inner
# join silently drops the empty bucket, the classic Q13 trap). Two
# aggregations: per-customer count over the left join (shuffle on custkey;
# count(o_orderkey) counts only matched rows), then the tiny distribution
# re-agg. Both partial-aggregate; the distribution keys are a handful of
# small ints so the second shuffle is bytes.
def q44_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# Q45 — TPC-H Q9 shape: revenue by supplier nation × order year for parts
# matching a name predicate. Join pyramid: lineitem is the only fact-sized
# side — part (filtered, name predicate pushed to the scan), supplier, and
# nation broadcast; orders joins on orderkey for the year. GROUP BY
# (nation, year) partial-aggregates to a dimension-sized result, so the
# whole query is one fact scan + one fact-sized shuffle (the orders join)
# regardless of SF.
def q45_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("nation", F.desc("o_year"))
    )


# Q46 — data-quality audit: the referential-integrity / validity sweep a
# pipeline runs before promoting a snapshot, emitted as one tall
# (check, n) metrics table. Checks: orphaned fact rows (lineitem with no
# order — anti-join), childless orders (anti-join the other way), null
# keys, duplicate primary keys, and domain-range violations. Each check
# is one partial-aggregable scan or one key-shuffled anti-join; the union
# of six one-row frames costs nothing. At 100 TB the two anti-joins are
# the only shuffles, and they share the orderkey partitioning.
def q46_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n")).select(
            F.lit(name).alias("check"), "n"
        )

    li_orphans = li.join(
        o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
    )
    o_childless = o.join(
        li.select("l_orderkey"), o.o_orderkey == li.l_orderkey, "left_anti"
    )
    o_null_cust = o.filter(F.col("o_custkey").isNull())
    c_dups = (
        c.groupBy("c_custkey")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
    )
    li_bad_qty = li.filter(
        (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)
    )
    o_neg_total = o.filter(F.col("o_totalprice") < 0)
    return (
        one("lineitem_orphans", li_orphans)
        .unionByName(one("orders_childless", o_childless))
        .unionByName(one("orders_null_custkey", o_null_cust))
        .unionByName(one("customer_dup_keys", c_dups))
        .unionByName(one("lineitem_qty_out_of_range", li_bad_qty))
        .unionByName(one("orders_negative_total", o_neg_total))
        .orderBy("check")
    )


# Q47 — snapshot diff / reconciliation: given two versions of a keyed
# table, classify every key as added / removed / changed / unchanged — the
# table-diff primitive behind lakehouse time travel audits, CDC validation,
# and migration sign-off. ONE full-outer join on the key + a codegen'd
# CASE classification + a tiny count rollup; at 100 TB both snapshots
# shuffle once on the key (or zero times if both are bucketed on it).
# The two "snapshots" here are derived deterministically from `customer`
# (membership by custkey modulus, a value mutation on a third modulus) so
# every class is non-empty and the oracle can rebuild them exactly.
def q47_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    snap_a = c.filter(F.col("c_custkey") % 11 != 0)
    snap_b = c.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 10, 2)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    a = snap_a.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("va")
    )
    b = snap_b.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("vb")
    )
    status = (
        F.when(F.col("va").isNull(), F.lit("added"))
        .when(F.col("vb").isNull(), F.lit("removed"))
        .when(F.col("va") != F.col("vb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        a.join(b, "k", "full_outer")
        .select(status.alias("diff"))
        .groupBy("diff")
        .agg(F.count("*").alias("n"))
        .orderBy("diff")
    )


#: Bloom-filter geometry for q48: M bits (power of two), K hash probes.
BLOOM_M = 1 << 16
BLOOM_K = 3


def bloom_build(df: DataFrame, key: str) -> list:
    """Build an M-bit Bloom filter over ``df[key]`` as a list of M/64 longs.

    All set-bit computation is JVM-side (xxhash64 + pmod + bit_or partial
    agg); only the FINISHED bitset (M/64 longs — 8 KB at M=2^16) reaches
    the driver, the same bounded-metadata class as the IVF pivots. At
    cluster scale this is exactly what Spark's runtime bloom pruning
    injects; building it explicitly makes the technique available where
    the optimizer can't see the opportunity (cross-job prefilters,
    persisted filters reused across queries).
    """
    probes = ", ".join(
        f"pmod(xxhash64({key}, {i}), {BLOOM_M})" for i in range(BLOOM_K)
    )
    words = df.selectExpr(f"explode(array({probes})) AS pos").selectExpr(
        "pos div 64 AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)) AS bit",
    )
    built = (
        words.groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bitset = [0] * (BLOOM_M // 64)
    for r in built:
        bitset[int(r["w"])] = int(r["word"])
    return bitset


def bloom_probe_expr(key: str, bitset: list) -> F.Column:
    """Membership-test Column: true iff all K probe bits are set. The
    bitset ships as a literal array (broadcast with the plan); each probe
    is two integer ops + an array index, all inside codegen."""
    arr = "array(" + ", ".join(f"{int(w)}L" for w in bitset) + ")"
    tests = []
    for i in range(BLOOM_K):
        pos = f"pmod(xxhash64({key}, {i}), {BLOOM_M})"
        tests.append(
            f"(shiftright(element_at({arr}, CAST(({pos}) div 64 AS INT) + 1),"
            f" CAST(({pos}) % 64 AS INT)) % 2) != 0"
        )
    return F.expr(" AND ".join(tests))


# Q48 — Bloom-prefiltered semi-join: reduce a fact table against a filtered
# dimension WITHOUT shuffling the non-qualifying fact rows. The qualifying
# order keys (one priority class) are summarized into a 2^16-bit Bloom
# filter; the lineitem scan drops ~(1-fpr) of non-matching rows AT THE SCAN
# (the probe is a codegen'd filter), and only the survivors pay the exact
# semi-join that removes false positives. Result is EXACTLY the plain
# semi-join (the oracle); the filter only changes how many rows reach the
# shuffle — at 100 TB that's the difference between shuffling the full
# fact and shuffling ~the matching fraction.
def q48_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = o.select("o_orderkey")
    bitset = bloom_build(keys, "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem")
    prefiltered = li.filter(bloom_probe_expr("l_orderkey", bitset))
    exact = prefiltered.join(
        keys, prefiltered.l_orderkey == keys.o_orderkey, "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    ).orderBy("l_returnflag")


# Q49 — TPC-H Q2 shape: groupwise-ARGMIN join-back. For every part shipped
# out of one region, find the supplier offering the lowest observed unit
# price (min over that part's lineitems, region-restricted), with the
# supplier id as deterministic tie-break. One struct-min partial aggregate
# computes BOTH the argmin and the tie-break in a single shuffle on
# l_partkey — no join-back against a separately-computed per-part MIN (the
# naive Q2 plan, which pays the fact shuffle twice). Dimensions broadcast.
# Numeric discipline: the argmin compares the RAW IEEE quotient (division
# is bit-identical across engines) and the display value truncates via
# floor (exact) — ROUND before the min is a trap, because Spark
# (BigDecimal HALF_UP on the exact binary value) and DuckDB disagree on
# ...x49999 boundary doubles.
def q49_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eligible = (
        s.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.select("r_regionkey")),
                    n.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            s.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    best = (
        l.join(F.broadcast(eligible), l.l_suppkey == eligible.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.min(F.struct("unit_price", "s_suppkey")).alias("m"))
        .select(
            "l_partkey",
            (F.floor(F.col("m.unit_price") * 10000) / 10000).alias(
                "best_price"
            ),
            F.col("m.s_suppkey").alias("s_suppkey"),
        )
    )
    return (
        best.join(F.broadcast(eligible), "s_suppkey")
        .select("l_partkey", "best_price", "s_suppkey", "s_name", "n_name")
        .orderBy("l_partkey")
    )


# Q50 — TPC-H Q8 shape: market share of one nation's suppliers within the
# yearly revenue of a part segment. Numerator and denominator come from the
# SAME conditional aggregation pass (SUM(CASE) / SUM), so the fact table is
# scanned and shuffled once; a separate filtered re-aggregation would double
# the fact cost for an answer the conditional form gets for free. Revenue
# accumulates integer cents so the share survives any partition layout.
def q50_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    joined = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            cents.alias("cents"),
            F.when(F.col("n_name") == "GERMANY", cents)
            .otherwise(F.lit(0))
            .alias("nation_cents"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(F.sum("nation_cents") / 100.0, 2).alias("nation_rev"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_rev"),
            F.round(
                F.sum("nation_cents") / F.sum("cents").cast("double"), 4
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


#: q51 qualifying share: a supplier qualifies when it shipped more than
#: this fraction of a red part's corpus-wide shipped quantity.
SURPLUS_SHARE = 0.15


# Q51 — TPC-H Q20 shape: the nested semi-join chain. Suppliers who shipped
# MORE than a set share of a red part's corpus-wide shipped quantity; the
# supplier list is then semi-joined (EXISTS) against those qualifying
# (part, supplier) facts. The per-(part,supp) and per-part totals come from
# one partial-agg cascade over the SAME shuffle key prefix (l_partkey), so
# the window-free formulation re-uses the first aggregation instead of
# re-scanning the fact; the final semi-join is dimension-sized.
def q51_surplus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_ps = (
        l.join(F.broadcast(red.select("p_partkey")), l.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("ps_qty"))
    )
    per_part = per_ps.groupBy("l_partkey").agg(
        F.sum("ps_qty").alias("part_qty")
    )
    qualifying = (
        per_ps.join(per_part, "l_partkey")
        .filter(F.col("ps_qty") > SURPLUS_SHARE * F.col("part_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# Q52 — TPC-H Q10 shape: top customers by lost (returned-item) revenue.
# Fact filtered at the scan (returnflag pushdown), one shuffle on custkey
# for the per-customer rollup, customer + nation broadcast onto the
# aggregated (already small) side, and the top-k is TakeOrderedAndProject —
# the full ranking never materializes. Joining dimensions AFTER the rollup
# keeps the fact-sized stream two columns wide.
def q52_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        l.select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("cents"),
        )
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("cents") / 100.0, 2).alias("revenue"))
    )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# Q53 — table-stats profiler (ANALYZE TABLE shape): per-column row count,
# null count, distinct count, min and max over orders, emitted as one tall
# (column, metric...) table. All metrics for ALL columns come from a single
# scan: Spark plans the multi-count_distinct as one Expand (each row fans
# out once per distinct-aggregated column) — one pass, one shuffle. At
# 100 TB the exact NDV expand is the costly term; the production profile
# swaps count_distinct for approx_count_distinct (HLL, partial-agg, no
# expand) and keeps everything else identical — the oracle checks the exact
# form.
def q53_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    # One groupBy pass PER COLUMN instead of four count_distincts in one
    # aggregate: the multi-distinct form plans an Expand that replicates
    # every row 5x before the hash aggregate, while each per-column pass
    # scans only its own parquet column (pruned) and partial-aggregates
    # map-side to its distinct values. All stats are exact functions of
    # the grouped (value, cnt) frame: ndv = count of non-null keys,
    # n_nulls = the null group's cnt, n_rows = sum(cnt), min/max over keys
    # equal min/max over rows. The union executes as one job.
    branches = []
    for c in cols:
        g = o.select(c).groupBy(c).agg(F.count("*").alias("cnt"))
        branches.append(
            g.agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(
                    F.when(F.col(c).isNull(), F.col("cnt")).otherwise(F.lit(0))
                ).alias("n_nulls"),
                F.count(c).alias("ndv"),
                F.min(F.col(c).cast("string")).alias("min_val"),
                F.max(F.col(c).cast("string")).alias("max_val"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_nulls",
                "ndv",
                "min_val",
                "max_val",
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("column_name")


#: q54: the erasure cohort — customers whose key hashes into this residue
#: (a deterministic stand-in for a deletion-request list).
ERASE_MOD = 97


# Q54 — GDPR-style erasure cascade: given a deletion-request cohort,
# remove the customers, their orders, and those orders' lineitems, and
# emit the audit report (rows erased / retained per table) that a
# compliance pipeline must produce. Shape: the cohort key-list propagates
# by LEFT-SEMI joins down the foreign-key chain (customer → orders →
# lineitem) — each hop is one key-shuffled semi-join, the erased fact
# rows are never materialized wider than their keys, and the retained
# tables are the complementary LEFT-ANTI joins sharing the same shuffle.
# At 100 TB this is the standard tombstone-compaction read path; the
# write path would rewrite only affected partitions.
def q54_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    cohort = c.filter(F.col("c_custkey") % ERASE_MOD == 0)
    erased_orders = o.join(
        cohort, o.o_custkey == cohort.c_custkey, "left_semi"
    )
    erased_li = li.join(
        erased_orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )

    def audit(name: str, erased: DataFrame, total: DataFrame) -> DataFrame:
        e = erased.agg(F.count("*").cast("long").alias("erased"))
        t = total.agg(F.count("*").cast("long").alias("total"))
        return e.crossJoin(t).select(
            F.lit(name).alias("tbl"),
            "erased",
            (F.col("total") - F.col("erased")).alias("retained"),
        )

    return (
        audit("customer", cohort, c)
        .unionByName(audit("orders", erased_orders, o))
        .unionByName(audit("lineitem", erased_li, li))
        .orderBy("tbl")
    )


# Q55 — incremental JOIN maintenance (the join twin of q43's aggregate
# merge): with A split into (A_old, ΔA) and B into (B_old, ΔB), the
# delta-join identity  A⋈B = A_old⋈B_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB
# means a view over a growing fact pair is maintainable by joining ONLY
# the deltas against the other side — never re-joining old⋈old. The
# query materializes the three delta terms and re-aggregates them with
# the pre-existing state; the oracle is the full recompute, certifying
# the identity. Every term shares the o_orderkey shuffle partitioning.
def q55_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o_old, o_new = (
        o.filter(F.col("o_orderkey") % 2 == p) for p in (0, 1)
    )
    l_old, l_new = (
        li.filter(F.col("l_orderkey") % 3 != 0),
        li.filter(F.col("l_orderkey") % 3 == 0),
    )

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderpriority", "cents"
        )

    joined = (
        term(o_old, l_old)
        .unionByName(term(o_new, l_old))
        .unionByName(term(o_old, l_new))
        .unionByName(term(o_new, l_new))
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# Q56 — join-key / foreign-key discovery profiling (q53's sibling): for
# candidate column pairs, the inclusion coefficient |distinct(A) ∩
# distinct(B)| / |distinct(A)| — the signal schema-inference tools use to
# propose FK edges on an undocumented lake. All candidates melt into ONE
# tagged (candidate, key, side) union aggregated twice: per-(candidate,
# key) membership flags, then per-candidate counts — 2 shuffles total
# (each carrying ~16 B/row after map-side partial aggregation) where the
# per-pair form cost two distincts + a semi-join + two scalar aggs EACH
# (measured at sf0.1: 34 AQE jobs → 6, and each source column is scanned
# once instead of once per appearance). A true FK scores 1.0, the
# deliberately wrong pair near 0. B-side null keys are dropped up front —
# a join never matches on null, and (candidate, key) groupBy would.
def q56_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        "lineitem": load_table(spark, sf_dir, "lineitem"),
        "orders": load_table(spark, sf_dir, "orders"),
        "customer": load_table(spark, sf_dir, "customer"),
        "part": load_table(spark, sf_dir, "part"),
        "supplier": load_table(spark, sf_dir, "supplier"),
    }
    candidates = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("lineitem", "l_linenumber", "customer", "c_custkey"),  # negative
    ]
    parts: list[DataFrame] = []
    for ta, ca, tb, cb in candidates:
        cand = F.lit(f"{ta}.{ca}->{tb}.{cb}").alias("candidate")
        parts.append(
            tables[ta].select(
                cand,
                F.col(ca).cast("long").alias("k"),
                F.lit(1).alias("in_a"),
                F.lit(0).alias("in_b"),
            )
        )
        parts.append(
            tables[tb]
            .filter(F.col(cb).isNotNull())
            .select(
                cand,
                F.col(cb).cast("long").alias("k"),
                F.lit(0).alias("in_a"),
                F.lit(1).alias("in_b"),
            )
        )
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    per_key = tagged.groupBy("candidate", "k").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    return (
        per_key.filter(F.col("in_a") == 1)
        .groupBy("candidate")
        .agg(
            F.count("*").cast("long").alias("ndv_a"),
            F.sum("in_b").cast("long").alias("ndv_shared"),
        )
        .select(
            "candidate",
            "ndv_a",
            "ndv_shared",
            F.round(F.col("ndv_shared") / F.col("ndv_a"), 4).alias("inclusion"),
        )
        .orderBy("candidate")
    )


# Q57 — full CDC apply: a change log with INSERT/UPDATE/DELETE ops folded
# into the final table state (the lakehouse MERGE in its complete form —
# q29 is upsert-only, w11 is the streaming twin without deletes). The
# change log derives deterministically from events: per user, ordered by
# (ts, event_id), op = D when value < 10 (a tombstone), else U. Apply =
# one argmax per key (latest change wins) + drop keys whose latest op is
# D — a single shuffle on the key, merge-state associative (max), so the
# same fold works per-micro-batch, per-partition, or whole-log.
def q57_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round("value", 2).alias("value"),
        F.when(F.col("value") < 10, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    latest = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "ts", "event_id", F.col("op").alias("op"), "value"
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.op").alias("op"),
            F.col("m.value").alias("value"),
            F.col("m.event_id").alias("last_event_id"),
        )
    )
    return (
        latest.filter(F.col("op") != "D")
        .select("user_id", "value", "last_event_id")
        .orderBy("user_id")
    )


#: q58 count-min sketch geometry + the engine-neutral row hashes
#: (arithmetic LCG mixes — identical in any engine; xxhash64/md5 would
#: diverge between Spark and DuckDB).
CMS_ROWS = 4
CMS_COLS = 1024
CMS_MULT = (2654435761, 40503, 2246822519, 3266489917)
CMS_TOP = 20


# Q58 — count-min sketch heavy hitters, DETERMINISTIC end to end: the
# sketch is CMS_ROWS × CMS_COLS integer counters built by one
# explode(×4) + partial-agg count (the sketch is the aggregate — at
# 100 TB the shuffle carries ≤ 4096 counter rows per task, however many
# keys exist); estimates are the min over the key's 4 cells (broadcast
# join against the 4 KB counter table), over-counting bounded by
# collisions. Because the row hashes are arithmetic (LCG mixes), both
# engines build the IDENTICAL sketch, so even the approximation error is
# hash-checkable — the same trick that makes s2's LSH oracle-able. The
# report compares estimate vs true count for the top keys.
def q58_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    cells = [
        f"named_struct('r', {r}, 'c', pmod(l_partkey * {m} + {r * 40503}, {CMS_COLS}))"
        for r, m in enumerate(CMS_MULT)
    ]
    sketch = (
        li.select(
            F.explode(F.expr("array(" + ", ".join(cells) + ")")).alias("cell")
        )
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
    )
    truth = li.groupBy("l_partkey").agg(F.count("*").alias("true_cnt"))
    probes = truth.select("l_partkey", "true_cnt")
    est = None
    for r, m in enumerate(CMS_MULT):
        s_r = sketch.filter(F.col("r") == r).select(
            F.col("c").alias(f"c{r}"), F.col("cnt").alias(f"cnt{r}")
        )
        probes = probes.withColumn(
            f"c{r}", F.expr(f"pmod(l_partkey * {m} + {r * 40503}, {CMS_COLS})")
        ).join(F.broadcast(s_r), f"c{r}")
        est = (
            F.col(f"cnt{r}")
            if est is None
            else F.least(est, F.col(f"cnt{r}"))
        )
    return (
        probes.select(
            "l_partkey", "true_cnt", est.alias("cms_est")
        )
        .orderBy(F.desc("cms_est"), F.desc("true_cnt"), "l_partkey")
        .limit(CMS_TOP)
    )


QUERIES: dict[str, QueryFn] = {
    "q58_cms_heavy_hitters": q58_cms_heavy_hitters,
    "q57_cdc_apply": q57_cdc_apply,
    "q54_erasure_cascade": q54_erasure_cascade,
    "q55_incremental_join": q55_incremental_join,
    "q56_fk_discovery": q56_fk_discovery,
    "q49_cheapest_supplier": q49_cheapest_supplier,
    "q50_market_share": q50_market_share,
    "q51_surplus_suppliers": q51_surplus_suppliers,
    "q52_returned_top_customers": q52_returned_top_customers,
    "q53_table_stats": q53_table_stats,
    "q48_bloom_semi_join": q48_bloom_semi_join,
    "q47_snapshot_diff": q47_snapshot_diff,
    "q46_dq_audit": q46_dq_audit,
    "q44_order_count_distribution": q44_order_count_distribution,
    "q45_profit_by_nation_year": q45_profit_by_nation_year,
    "q43_incremental_merge": q43_incremental_merge,
    "q1_node_scan": q1_node_scan,
    "q2_edge_join": q2_edge_join,
    "q3_disjunction": q3_disjunction,
    "q4_null_semantics": q4_null_semantics,
    "q5_join_update": q5_join_update,
    "q6_batch_insert": q6_batch_insert,
    "q7_grouped_count": q7_grouped_count,
    "q8_multi_agg": q8_multi_agg,
    "q9_date_filter": q9_date_filter,
    "q10_topk": q10_topk,
    "q11_time_bucket": q11_time_bucket,
    "q12_distinct_docs": q12_distinct_docs,
    "q13_order_revenue_topk": q13_order_revenue_topk,
    "q14_local_supplier_revenue": q14_local_supplier_revenue,
    "q16_window_rank": q16_window_rank,
    "q17_set_ops": q17_set_ops,
    "q18_percentiles": q18_percentiles,
    "q36_histogram_percentile": q36_histogram_percentile,
    "q37_unpivot": q37_unpivot,
    "q38_ntile_buckets": q38_ntile_buckets,
    "q19_rollup": q19_rollup,
    "q20_exists_semi": q20_exists_semi,
    "q21_anti_scalar": q21_anti_scalar,
    "q22_groupwise_threshold": q22_groupwise_threshold,
    "q23_conditional_agg": q23_conditional_agg,
    "q24_sample_split": q24_sample_split,
    "q25_pivot": q25_pivot,
    "q26_disjunctive_join": q26_disjunctive_join,
    "q27_nation_volume": q27_nation_volume,
    "q28_sketch_stats": q28_sketch_stats,
    "q29_merge_upsert": q29_merge_upsert,
    "q30_distinct_exclusion": q30_distinct_exclusion,
    "q33_grouping_sets": q33_grouping_sets,
    "q39_late_supplier": q39_late_supplier,
    "q40_top_supplier": q40_top_supplier,
    "q41_nation_share": q41_nation_share,
}

ORACLE: dict[str, str] = {
    "q58_cms_heavy_hitters": f"""
        WITH li AS (SELECT l_partkey FROM lineitem),
        cells AS (
          {" UNION ALL ".join(
            f'''SELECT {r} AS r,
                ((l_partkey * {m} + {r * 40503}) % {CMS_COLS}
                 + {CMS_COLS}) % {CMS_COLS} AS c
                FROM li'''
            for r, m in enumerate(CMS_MULT))}),
        sketch AS MATERIALIZED (
          SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM cells GROUP BY r, c),
        truth AS (
          SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
          FROM li GROUP BY l_partkey),
        probed AS (
          SELECT t.l_partkey, t.true_cnt,
                 LEAST({", ".join(
                   f'''(SELECT cnt FROM sketch WHERE r = {r}
                        AND c = ((t.l_partkey * {m} + {r * 40503})
                                 % {CMS_COLS} + {CMS_COLS}) % {CMS_COLS})'''
                   for r, m in enumerate(CMS_MULT))}) AS cms_est
          FROM truth t)
        SELECT l_partkey, true_cnt, cms_est
        FROM probed
        ORDER BY cms_est DESC, true_cnt DESC, l_partkey
        LIMIT {CMS_TOP}""",
    "q57_cdc_apply": """
        WITH log AS (
          SELECT user_id, ts, event_id, ROUND(value, 2) AS value,
                 CASE WHEN value < 10 THEN 'D' ELSE 'U' END AS op
          FROM events),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC)
                      AS rn
          FROM log)
        SELECT user_id, value, event_id AS last_event_id
        FROM ranked WHERE rn = 1 AND op <> 'D'
        ORDER BY user_id""",
    "q54_erasure_cascade": f"""
        WITH cohort AS (
          SELECT c_custkey FROM customer WHERE c_custkey % {ERASE_MOD} = 0),
        eo AS (SELECT o_orderkey FROM orders
               WHERE o_custkey IN (SELECT c_custkey FROM cohort)),
        el AS (SELECT 1 FROM lineitem
               WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
        SELECT 'customer' AS tbl,
               (SELECT COUNT(*) FROM cohort) AS erased,
               (SELECT COUNT(*) FROM customer)
                 - (SELECT COUNT(*) FROM cohort) AS retained
        UNION ALL
        SELECT 'lineitem',
               (SELECT COUNT(*) FROM el),
               (SELECT COUNT(*) FROM lineitem)
                 - (SELECT COUNT(*) FROM el)
        UNION ALL
        SELECT 'orders',
               (SELECT COUNT(*) FROM eo),
               (SELECT COUNT(*) FROM orders)
                 - (SELECT COUNT(*) FROM eo)
        ORDER BY tbl""",
    "q55_incremental_join": """
        SELECT o_orderpriority, COUNT(*) AS n_items,
               ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                     / 100.0, 2) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q56_fk_discovery": """
        SELECT candidate, ndv_a, ndv_shared,
               ROUND(CAST(ndv_shared AS DOUBLE) / ndv_a, 4) AS inclusion
        FROM (
          SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS candidate,
                 (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_a,
                 (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem
                  WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
                   AS ndv_shared
          UNION ALL
          SELECT 'orders.o_custkey->customer.c_custkey',
                 (SELECT COUNT(DISTINCT o_custkey) FROM orders),
                 (SELECT COUNT(DISTINCT o_custkey) FROM orders
                  WHERE o_custkey IN (SELECT c_custkey FROM customer))
          UNION ALL
          SELECT 'lineitem.l_partkey->part.p_partkey',
                 (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
                 (SELECT COUNT(DISTINCT l_partkey) FROM lineitem
                  WHERE l_partkey IN (SELECT p_partkey FROM part))
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
                 (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
                 (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem
                  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier))
          UNION ALL
          SELECT 'lineitem.l_linenumber->customer.c_custkey',
                 (SELECT COUNT(DISTINCT l_linenumber) FROM lineitem),
                 (SELECT COUNT(DISTINCT l_linenumber) FROM lineitem
                  WHERE l_linenumber IN (SELECT c_custkey FROM customer))
        ) _(candidate, ndv_a, ndv_shared)
        ORDER BY candidate""",
    "q49_cheapest_supplier": """
        WITH eligible AS (
          SELECT s_suppkey, s_name, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        priced AS (
          SELECT l_partkey, l_suppkey,
                 l_extendedprice / l_quantity AS unit_price
          FROM lineitem
          JOIN eligible ON l_suppkey = s_suppkey),
        best AS (
          SELECT l_partkey,
                 FLOOR(MIN(unit_price) * 10000) / 10000 AS best_price,
                 MIN(l_suppkey) FILTER (WHERE unit_price = m) AS s_suppkey
          FROM (SELECT *, MIN(unit_price) OVER (PARTITION BY l_partkey) AS m
                FROM priced)
          GROUP BY l_partkey)
        SELECT b.l_partkey, b.best_price, b.s_suppkey, e.s_name, e.n_name
        FROM best b JOIN eligible e ON b.s_suppkey = e.s_suppkey
        ORDER BY b.l_partkey""",
    "q50_market_share": """
        WITH f AS (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS cents,
                 CASE WHEN n_name = 'GERMANY' THEN
                   CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT) ELSE 0 END AS nation_cents
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          WHERE p_type = 'PROMO')
        SELECT o_year,
               ROUND(SUM(nation_cents) / 100.0, 2) AS nation_rev,
               ROUND(SUM(cents) / 100.0, 2) AS total_rev,
               ROUND(SUM(nation_cents) / CAST(SUM(cents) AS DOUBLE), 4)
                 AS mkt_share
        FROM f GROUP BY o_year ORDER BY o_year""",
    "q51_surplus_suppliers": f"""
        WITH per_ps AS (
          SELECT l_partkey, l_suppkey, SUM(l_quantity) AS ps_qty
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
          GROUP BY l_partkey, l_suppkey),
        per_part AS (
          SELECT l_partkey, SUM(ps_qty) AS part_qty
          FROM per_ps GROUP BY l_partkey)
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT a.l_suppkey FROM per_ps a
          JOIN per_part b ON a.l_partkey = b.l_partkey
          WHERE a.ps_qty > {SURPLUS_SHARE} * b.part_qty)
        ORDER BY s_suppkey""",
    "q52_returned_top_customers": """
        WITH per_cust AS (
          SELECT o_custkey,
                 ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                       * 100) AS BIGINT)) / 100.0, 2) AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name, revenue
        FROM per_cust
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""",
    "q53_table_stats": """
        WITH t AS (SELECT COUNT(*) AS n_rows FROM orders)
        SELECT * FROM (
          SELECT 'o_orderkey' AS column_name, t.n_rows,
                 SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_nulls,
                 COUNT(DISTINCT o_orderkey)::BIGINT AS ndv,
                 MIN(CAST(o_orderkey AS VARCHAR)) AS min_val,
                 MAX(CAST(o_orderkey AS VARCHAR)) AS max_val
          FROM orders, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'o_custkey', t.n_rows,
                 SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
                 COUNT(DISTINCT o_custkey)::BIGINT,
                 MIN(CAST(o_custkey AS VARCHAR)),
                 MAX(CAST(o_custkey AS VARCHAR))
          FROM orders, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'o_orderstatus', t.n_rows,
                 SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0
                     END)::BIGINT,
                 COUNT(DISTINCT o_orderstatus)::BIGINT,
                 MIN(CAST(o_orderstatus AS VARCHAR)),
                 MAX(CAST(o_orderstatus AS VARCHAR))
          FROM orders, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'o_orderpriority', t.n_rows,
                 SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
                     END)::BIGINT,
                 COUNT(DISTINCT o_orderpriority)::BIGINT,
                 MIN(CAST(o_orderpriority AS VARCHAR)),
                 MAX(CAST(o_orderpriority AS VARCHAR))
          FROM orders, t GROUP BY t.n_rows)
        ORDER BY column_name""",
    "q48_bloom_semi_join": """
        SELECT l_returnflag, COUNT(*) AS cnt,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q47_snapshot_diff": """
        WITH a AS (
          SELECT c_custkey AS k, c_acctbal AS va FROM customer
          WHERE c_custkey % 11 <> 0),
        b AS (
          SELECT c_custkey AS k,
                 CASE WHEN c_custkey % 7 = 0
                      THEN ROUND(c_acctbal + 10, 2)
                      ELSE c_acctbal END AS vb
          FROM customer WHERE c_custkey % 13 <> 0)
        SELECT CASE WHEN va IS NULL THEN 'added'
                    WHEN vb IS NULL THEN 'removed'
                    WHEN va <> vb THEN 'changed'
                    ELSE 'unchanged' END AS diff,
               COUNT(*) AS n
        FROM a FULL OUTER JOIN b USING (k)
        GROUP BY 1 ORDER BY diff""",
    "q46_dq_audit": """
        SELECT 'lineitem_orphans' AS check, COUNT(*) AS n FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        UNION ALL
        SELECT 'orders_childless', COUNT(*) FROM orders
        WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
        UNION ALL
        SELECT 'orders_null_custkey', COUNT(*) FROM orders
        WHERE o_custkey IS NULL
        UNION ALL
        SELECT 'customer_dup_keys', COUNT(*) FROM (
          SELECT c_custkey FROM customer GROUP BY c_custkey
          HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'lineitem_qty_out_of_range', COUNT(*) FROM lineitem
        WHERE l_quantity <= 0 OR l_quantity > 50
        UNION ALL
        SELECT 'orders_negative_total', COUNT(*) FROM orders
        WHERE o_totalprice < 0
        ORDER BY "check" """,
    "q44_order_count_distribution": """
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""",
    "q45_profit_by_nation_year": """
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, EXTRACT(year FROM o_orderdate)
        ORDER BY nation, o_year DESC""",
    "q43_incremental_merge": """
        SELECT user_id, COUNT(*) AS cnt,
               ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2)
                 AS sum_value,
               ROUND(MIN(value), 2) AS min_value,
               ROUND(MAX(value), 2) AS max_value,
               ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
                     / COUNT(*), 4) AS avg_value
        FROM events GROUP BY user_id ORDER BY user_id""",
    "q1_node_scan": """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer ORDER BY c_custkey""",
    "q2_edge_join": """
        SELECT o.o_orderkey, o.o_custkey, c.c_nationkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_orderkey""",
    "q3_disjunction": """
        SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey = 0 OR c_nationkey = 1
        ORDER BY c_custkey""",
    "q4_null_semantics": """
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
        FROM customer ORDER BY c_custkey""",
    "q5_join_update": """
        SELECT c.c_custkey, n.n_name AS nation_name
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ORDER BY c.c_custkey""",
    "q6_batch_insert": """
        SELECT * FROM (
          SELECT c_custkey, c_name FROM customer
          UNION ALL SELECT 900001, 'Frank'
          UNION ALL SELECT 900002, 'Dave'
        ) AS t ORDER BY c_custkey""",
    "q7_grouped_count": """
        SELECT c_nationkey, COUNT(*) AS cnt
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q8_multi_agg": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
    "q9_date_filter": """
        SELECT COUNT(*) AS cnt FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1996-01-01'""",
    "q10_topk": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q11_time_bucket": """
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
               ROUND(SUM(value), 2) AS total
        FROM events GROUP BY user_id, CAST(ts AS DATE)
        ORDER BY user_id, day""",
    "q12_distinct_docs": """
        SELECT COUNT(DISTINCT text) AS distinct_docs FROM documents""",
    "q13_order_revenue_topk": """
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS o_date,
               o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q14_local_supplier_revenue": """
        SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN supplier ON s_nationkey = n_nationkey
        JOIN customer ON c_nationkey = s_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        WHERE r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          AND CAST(o_orderdate AS DATE) <  DATE '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name""",
    "q16_window_rank": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn, prev_price FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                 ROUND(LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey), 2)
                   AS prev_price
          FROM orders) t
        WHERE rn <= 2
        ORDER BY o_custkey, rn""",
    "q17_set_ops": """
        SELECT * FROM (
          SELECT 'no_orders' AS tag, key FROM (
            SELECT c_custkey AS key FROM customer
            EXCEPT
            SELECT o_custkey FROM orders)
          UNION ALL
          SELECT 'neg_bal_with_orders' AS tag, key FROM (
            SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0
            INTERSECT
            SELECT o_custkey FROM orders)
        ) ORDER BY tag, key""",
    "q18_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 2) AS p50_qty,
               ROUND(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q36_histogram_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 2) AS p50_qty,
               ROUND(quantile_cont(l_quantity, 0.9), 2) AS p90_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q38_ntile_buckets": """
        SELECT o_orderkey, o_orderpriority,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               ROUND(percent_rank() OVER w, 4) AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey""",
    "q37_unpivot": """
        WITH w AS (
          SELECT l_returnflag,
                 ROUND(SUM(l_quantity), 2) AS qty,
                 ROUND(SUM(l_extendedprice), 2) AS price,
                 CAST(COUNT(*) AS DOUBLE) AS cnt
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, metric, val FROM (
          SELECT l_returnflag, 'cnt' AS metric, cnt AS val FROM w
          UNION ALL SELECT l_returnflag, 'price', price FROM w
          UNION ALL SELECT l_returnflag, 'qty', qty FROM w)
        ORDER BY l_returnflag, metric""",
    "q19_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q20_exists_semi": """
        SELECT o_orderpriority, COUNT(*) AS cnt
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q21_anti_scalar": """
        SELECT c_nationkey, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey)
        GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q22_groupwise_threshold": """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l
        JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
              FROM lineitem GROUP BY l_partkey) p
          ON l.l_partkey = p.l_partkey
        WHERE l.l_quantity < p.qty_threshold""",
    "q23_conditional_agg": """
        SELECT l_returnflag,
               -- CAST: DuckDB SUM over INTEGER yields HUGEINT, which pandas
               -- materializes as float64 and diverges from Spark's bigint in
               -- the value hash; BIGINT keeps both sides int64.
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
        GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q24_sample_split": """
        SELECT CASE WHEN substring(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '1a'
                    THEN 'test' ELSE 'train' END AS split,
               COUNT(*) AS n, ROUND(AVG(c_acctbal), 2) AS avg_bal
        FROM customer GROUP BY 1 ORDER BY split""",
    "q25_pivot": """
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
               ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q26_disjunctive_join": """
        SELECT COUNT(*) AS cnt,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 10)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
               AND l_quantity >= 30)""",
    "q27_nation_volume": """
        SELECT supp_nation, cust_nation, l_year,
               ROUND(SUM(volume), 2) AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 EXTRACT(YEAR FROM l_shipdate) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        ) GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""",
    "q29_merge_upsert": """
        WITH u(u_custkey, u_name, u_acctbal) AS (VALUES
          (1, 'ACCT_RESET', 0.0),
          (2, NULL, 999.99),
          (900001, 'Frank', 10.0),
          (900002, 'Dave', 20.0))
        SELECT COALESCE(c_custkey, u_custkey) AS c_custkey,
               COALESCE(u_name, c_name) AS c_name,
               COALESCE(u_acctbal, c_acctbal) AS c_acctbal
        FROM customer FULL OUTER JOIN u ON c_custkey = u_custkey
        ORDER BY c_custkey""",
    "q30_distinct_exclusion": """
        SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand ORDER BY p_brand""",
    "q33_grouping_sets": """
        SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               l_returnflag, l_linestatus,
               COUNT(*) AS cnt,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q39_late_supplier": """
        WITH per_order AS (
          SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
                 COUNT(DISTINCT l_suppkey) AS nsupp
          FROM lineitem GROUP BY l_orderkey),
        latest AS (
          SELECT l.l_orderkey, l.l_suppkey
          FROM lineitem l JOIN per_order p ON l.l_orderkey = p.l_orderkey
          WHERE l.l_shipdate = p.max_ship AND p.nsupp >= 2),
        sole AS (
          SELECT l_orderkey, MIN(l_suppkey) AS supp
          FROM latest GROUP BY l_orderkey
          HAVING COUNT(DISTINCT l_suppkey) = 1)
        SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
        FROM sole JOIN supplier s ON sole.supp = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY numwait DESC, s.s_suppkey LIMIT 20""",
    "q40_top_supplier": """
        WITH rev AS (
          SELECT l_suppkey,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate <  TIMESTAMP '1995-04-01'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_rev
        FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s.s_suppkey""",
    "q41_nation_share": f"""
        WITH val AS (
          SELECT s.s_nationkey,
                 SUM(l_extendedprice * (1 - l_discount)) AS nation_val
          FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY s.s_nationkey),
        total AS (SELECT SUM(nation_val) AS corpus_val FROM val)
        SELECT n.n_name,
               ROUND(v.nation_val, 2) AS value,
               ROUND(v.nation_val / t.corpus_val, 4) AS share
        FROM val v CROSS JOIN total t
        JOIN nation n ON v.s_nationkey = n.n_nationkey
        WHERE v.nation_val > {GLOBAL_SHARE} * t.corpus_val
        ORDER BY value DESC, n.n_name""",
}


#: q59: a lineitem is "late" when it ships this many days after the order.
LATE_DAYS = 60
LONELY_LATE_TOP = 20


# Q59 — TPC-H Q21's "lonely late supplier" shape: suppliers who were the
# ONLY late shipper on a finished multi-supplier order. The classic SQL
# states it as a double correlated (NOT) EXISTS against lineitem with a
# `<> l_suppkey` correlation; the Spark-first form DECORRELATES both
# subqueries into one per-order aggregation — count the order's distinct
# suppliers and its distinct LATE suppliers once, then the predicate is a
# pure filter (late AND n_supp > 1 AND n_late = 1). That turns two extra
# lineitem self-joins into one partial-aggregated groupBy on the SAME
# orderkey the main join already shuffles on (AQE co-partitions them), and
# the supplier name lookup broadcasts. The DuckDB oracle states the
# literal EXISTS form, so the conformance gate proves the rewrite.
def q59_lonely_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    ls = (
        li.join(o, li.l_orderkey == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate").cast("date")
                > F.date_add(F.col("o_orderdate").cast("date"), LATE_DAYS)
            ).alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        # late_lines keeps the per-LINEITEM multiplicity the SQL's per-l1-row
        # count has (a supplier with two late lines on one order counts 2)
        .agg(
            F.max("late").alias("late"),
            F.sum(F.col("late").cast("long")).alias("late_lines"),
        )
        # localCheckpoint: ls feeds both per_order and the lonely filter —
        # without it the lineitem⋈orders join executes twice
        .localCheckpoint()
    )
    per_order = ls.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late"),
    )
    lonely = (
        ls.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lonely.join(F.broadcast(s), lonely.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(LONELY_LATE_TOP)
    )


QUERIES["q59_lonely_late_supplier"] = q59_lonely_late_supplier
ORACLE["q59_lonely_late_supplier"] = f"""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND CAST(l1.l_shipdate AS DATE)
          > CAST(o_orderdate AS DATE) + INTERVAL {LATE_DAYS} DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE)
                            > CAST(o_orderdate AS DATE)
                              + INTERVAL {LATE_DAYS} DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT {LONELY_LATE_TOP}"""


# Q60 — TPC-H Q6 shape: the pure predicate-pushdown scan-aggregate
# (forecast revenue change). No join, no group — the whole query is one
# filtered scan with a two-column projection, so its physical plan is the
# pushdown litmus test: date + quantity predicates reach the parquet
# reader and the aggregate is a single partial-agg pass. Revenue
# accumulates as INTEGER cents x discount-percent (price and discount are
# 2dp decimals stored as doubles; both engines round to the same int64
# before any summation), so the sum is layout-independent and the one
# float division happens at presentation.
def q60_revenue_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (d >= F.lit("1996-01-01").cast("date"))
            & (d < F.lit("1997-01-01").cast("date"))
            & (F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)") >= 2)
            & (F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)") <= 6)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
                    * F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)")
                )
                / F.lit(10000.0),
                2,
            ).alias("revenue"),
        )
    )


QUERIES["q60_revenue_scan"] = q60_revenue_scan
ORACLE["q60_revenue_scan"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * CAST(ROUND(l_discount * 100) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 2 AND 6
      AND l_quantity < 24"""


# Q61 — TPC-H Q14 shape: promotion revenue share — a conditional-aggregate
# RATIO over one join month. Both numerator and denominator accumulate as
# int64 (cents x (100 - discount%)), the part-side predicate is a plain
# dimension filter that BROADCASTS, and the single percent division+round
# happens on the 1-row result — layout-independent by construction.
def q61_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d = F.col("l_shipdate").cast("date")
    net = F.expr(
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
    )
    j = li.filter(
        (d >= F.lit("1996-03-01").cast("date"))
        & (d < F.lit("1996-04-01").cast("date"))
    ).join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        (
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(0))
                / F.sum(net),
                4,
            )
            + F.lit(0.0)
        ).alias("promo_share_pct"),
        F.count("*").alias("n_lines"),
    )


QUERIES["q61_promo_share"] = q61_promo_share
ORACLE["q61_promo_share"] = """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN net
                                  ELSE 0 END) * 1.0 / SUM(net), 4) + 0.0
             AS promo_share_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM (SELECT p_type,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS net
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
            AND CAST(l_shipdate AS DATE) < DATE '1996-04-01')"""


#: q62: minimum total order quantity for the "large order" report.
LARGE_ORDER_MIN_QTY = 140
LARGE_ORDER_TOP = 20


# Q62 — TPC-H Q18 shape: large-volume orders — the grouped-HAVING
# semi-join. The classic SQL nests `o_orderkey IN (SELECT l_orderkey ...
# GROUP BY ... HAVING SUM(qty) > t)`; the Spark-first form aggregates
# lineitem ONCE on the orderkey (quantities are integral — cast to int64
# so the HAVING threshold compares exactly), keeps qualifying keys, and
# joins customers/orders back to the tiny survivor set. The quantity agg
# shuffles on the same orderkey the join needs — one partial-agg pass
# over the fact table, no correlated re-scan.
def q62_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("qty"),
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_ORDER_MIN_QTY)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(LARGE_ORDER_TOP)
    )


QUERIES["q62_large_orders"] = q62_large_orders
ORACLE["q62_large_orders"] = f"""
    SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice, sum_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN (SELECT l_orderkey,
                 CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT))
                 > {LARGE_ORDER_MIN_QTY}) big
      ON big.l_orderkey = o_orderkey
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT {LARGE_ORDER_TOP}"""


# Q63 — the LITERAL TPC-H Q1 pricing summary (q8 is the multi-agg shape;
# this is the canonical report with the full derived-measure set,
# including the only use of l_tax in the schema): per (returnflag,
# linestatus), quantity/base-price/discounted-price/charge sums plus
# averages and a row count. All four sums accumulate as int64 fixed-point
# (cents, cents x (100 - disc), cents x (100 - disc) x (100 + tax) — max
# ~1e11/row x 6e5 rows at sf0.1, safely inside int64), so every float in
# the output derives from exact integers via ONE division at presentation
# and the result is partition-layout- and engine-independent. One
# partial-aggregated shuffle on a 6-group key; the date predicate is
# pushed to the scan.
def q63_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.expr("CAST(ROUND(l_quantity) AS BIGINT)")
    cents = F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)")
    disc = F.expr("CAST(ROUND(l_discount * 100) AS BIGINT)")
    tax = F.expr("CAST(ROUND(l_tax * 100) AS BIGINT)")
    return (
        li.filter(
            F.col("l_shipdate").cast("date") <= F.lit("2001-09-02").cast("date")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.round(F.sum(cents) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(cents * (100 - disc)) / 10000.0, 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(cents * (100 - disc) * (100 + tax)) / 1000000.0, 2
            ).alias("sum_charge"),
            F.round(F.sum(qty) / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(cents) / (F.count("*") * 100.0), 4).alias(
                "avg_price"
            ),
            F.round(F.sum(disc) / (F.count("*") * 100.0), 4).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


QUERIES["q63_pricing_summary"] = q63_pricing_summary
ORACLE["q63_pricing_summary"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           ROUND(SUM(cents) / 100.0, 2) AS sum_base_price,
           ROUND(SUM(cents * (100 - disc)) / 10000.0, 2) AS sum_disc_price,
           ROUND(SUM(cents * (100 - disc) * (100 + tax)) / 1000000.0, 2)
             AS sum_charge,
           ROUND(SUM(qty) * 1.0 / COUNT(*), 4) AS avg_qty,
           ROUND(SUM(cents) / (COUNT(*) * 100.0), 4) AS avg_price,
           ROUND(SUM(disc) / (COUNT(*) * 100.0), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM (SELECT l_returnflag, l_linestatus,
                 CAST(ROUND(l_quantity) AS BIGINT) AS qty,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
                 CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
                 CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02')
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""


# Q64 — realized-price vs list-price margin analysis (retail analytics
# shape; also the only consumer of p_retailprice in the schema): for every
# part, the ratio of realized unit revenue (Σ extendedprice / Σ quantity)
# to its list price, averaged per brand. Each per-part ratio derives from
# THREE exact int64 sums (cents, quantity, retail cents) — deterministic —
# and is immediately quantized to 1e6 fixed-point so the per-brand average
# is again an integer sum (the a17/t20 discipline, applied twice). Plan:
# one fact-side partial agg on partkey, a broadcast dimension join, one
# 25-group re-agg.
def q64_brand_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST(ROUND(l_quantity) AS BIGINT)").alias("qty"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("cents").alias("sum_cents"), F.sum("qty").alias("sum_qty")
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)").alias(
            "retail_cents"
        ),
    )
    ratio_fp = F.expr(
        "CAST(ROUND(sum_cents * 1000000.0 / (sum_qty * retail_cents))"
        " AS BIGINT)"
    )
    return (
        per_part.join(F.broadcast(p), per_part.l_partkey == p.p_partkey)
        .select("p_brand", ratio_fp.alias("r_fp"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("r_fp") / (F.count("*") * 1e6), 4).alias(
                "avg_price_ratio"
            ),
        )
        .orderBy("p_brand")
    )


QUERIES["q64_brand_margin"] = q64_brand_margin
ORACLE["q64_brand_margin"] = """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(r_fp) / (COUNT(*) * 1e6), 4) AS avg_price_ratio
    FROM (SELECT p_brand,
                 CAST(ROUND(sum_cents * 1000000.0
                            / (sum_qty * CAST(ROUND(p_retailprice * 100)
                                              AS BIGINT))) AS BIGINT) AS r_fp
          FROM (SELECT l_partkey,
                       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         AS sum_cents,
                       SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty
                FROM lineitem GROUP BY l_partkey) f
          JOIN part ON l_partkey = p_partkey)
    GROUP BY p_brand ORDER BY p_brand"""


# Q65 — TPC-H Q3 (shipping priority): the classic 3-way join + top-k —
# segment-filtered customers x not-yet-shipped orders x post-date
# lineitems, revenue per order, top 10. Completes the repo's TPC-H
# coverage push (Q1/2/6..21 landed rounds 1-5; Q3/4/12/16/17/22 land
# here, adapted only where the generator's schema lacks a column).
# Plan: both date filters push to the scans, the customer side reduces
# to a broadcast semi-side, revenue accumulates in integer cents
# (layout-independent), and the top-10 is TakeOrdered — no global sort.
Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-01"


def q65_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_DATE
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q3_DATE
    ).select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(F.round(F.sum("cents") / 100.0, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


QUERIES["q65_shipping_priority"] = q65_shipping_priority
ORACLE["q65_shipping_priority"] = f"""
    SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < DATE '{Q3_DATE}'
      AND l_shipdate > DATE '{Q3_DATE}'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""


# Q66 — TPC-H Q4 (order priority checking), adapted: the generator has no
# l_commitdate/l_receiptdate, so "late" = a lineitem shipped more than 30
# days after its order date — the same correlated-EXISTS-with-inequality
# shape. Plan: the EXISTS is ONE left-semi join on the order key with the
# inequality in the join condition (never a row-multiplying inner join +
# distinct), then a tiny hash aggregate over the 5 priorities.
Q4_DATE_LO = "1997-01-01"
Q4_DATE_HI = "1997-04-01"
Q4_LATE_DAYS = 30


def q66_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_DATE_LO)
        & (F.col("o_orderdate") < Q4_DATE_HI)
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (
            l.l_shipdate
            > F.date_add(o.o_orderdate.cast("date"), Q4_LATE_DAYS).cast(
                "timestamp"
            )
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


QUERIES["q66_order_priority"] = q66_order_priority
ORACLE["q66_order_priority"] = f"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '{Q4_DATE_LO}'
      AND o_orderdate < DATE '{Q4_DATE_HI}'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > CAST(o_orderdate AS DATE)
                           + INTERVAL {Q4_LATE_DAYS} DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority"""


# Q67 — TPC-H Q12 (shipping modes / priority split), adapted: the
# generator has no l_shipmode, so lineitems classify by l_returnflag —
# the query's real shape survives intact: one fact-dim join, then per
# class a CONDITIONAL count pair (urgent/high vs other priorities) in a
# single hash aggregate (two CASE-sums, one pass — never two scans).
Q12_DATE_LO = "1997-01-01"
Q12_DATE_HI = "1998-01-01"


def q67_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q12_DATE_LO)
        & (F.col("l_shipdate") < Q12_DATE_HI)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["q67_returnflag_priority"] = q67_returnflag_priority
ORACLE["q67_returnflag_priority"] = f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '{Q12_DATE_LO}'
      AND l_shipdate < DATE '{Q12_DATE_HI}'
      AND l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag ORDER BY l_returnflag"""


# Q68 — TPC-H Q16 (parts/supplier relationship), adapted: no partsupp
# table, so the part-supplier association is the DISTINCT
# (l_partkey, l_suppkey) pairs observed in lineitem; the "customer
# complaints" supplier exclusion becomes the negative-balance suppliers
# (same anti-join shape). Plan: broadcast-SEMI-filter the lineitem scan
# by the qualifying part keys FIRST (the selective brand/size predicate
# keeps ~16% of parts — filtering before the distinct's exchange cuts
# its shuffle by the same factor, the q69 discipline; distinct∘filter ≡
# filter∘distinct when the filter is on the key columns), dedup the
# surviving association once (partial-agg distinct), anti-join the tiny
# excluded-supplier set (broadcast), join the filtered part dim
# (broadcast), then ONE count-distinct aggregate per (brand, size) —
# supplier multiplicity never re-explodes.
Q16_EXCLUDED_BRAND = "Brand#45"
Q16_SIZES = (1, 3, 9, 14, 19, 23, 36, 45)


def q68_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCLUDED_BRAND)
        & F.col("p_size").isin(*Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_size")
    assoc = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .distinct()
    )
    return (
        assoc.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


QUERIES["q68_parts_supplier"] = q68_parts_supplier
ORACLE["q68_parts_supplier"] = f"""
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) assoc
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> '{Q16_EXCLUDED_BRAND}'
      AND p_size IN {Q16_SIZES!r}
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size"""


# Q69 — TPC-H Q17 (small-quantity-order revenue), adapted: brand filter
# only (no p_container). "Below half the part's average quantity" is
# evaluated EXACTLY: quantities are integral, so qty < 0.5·avg(qty) ⟺
# 2·qty·cnt < Σqty in int64 — no float threshold can flip a boundary row
# between engines or layouts. Plan: one partial-agg per part (cnt, Σqty),
# joined back to the brand-filtered lineitems; revenue accumulates in
# cents and divides once at presentation (the weekly-revenue /7).
Q17_BRAND = "Brand#23"


def q69_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == Q17_BRAND
    ).select("p_partkey")
    l = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey, "left_semi")
        .select(
            "l_partkey",
            F.round("l_quantity").cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    per_part = l.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"), F.sum("qty").alias("sum_qty")
    )
    small = l.join(per_part, "l_partkey").filter(
        2 * F.col("qty") * F.col("cnt") < F.col("sum_qty")
    )
    return small.agg(
        F.round(F.sum("cents") / 100.0 / 7.0, 2).alias("avg_weekly_revenue")
    )


QUERIES["q69_small_qty_revenue"] = q69_small_qty_revenue
ORACLE["q69_small_qty_revenue"] = f"""
    WITH l AS (
      SELECT l_partkey,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = '{Q17_BRAND}'),
    pp AS (
      SELECT l_partkey, COUNT(*) AS cnt, SUM(qty) AS sum_qty
      FROM l GROUP BY l_partkey)
    SELECT ROUND(SUM(cents) / 100.0 / 7.0, 2) AS avg_weekly_revenue
    FROM l JOIN pp USING (l_partkey)
    WHERE 2 * qty * cnt < sum_qty"""


# Q70 — TPC-H Q22 (global sales opportunity), adapted: the generator has
# no c_phone (country code becomes c_nationkey) and every customer has
# SOME order, so "no orders" becomes "no order since a cutoff" — the
# dormant-high-balance-customer report, same shape: scalar average
# subquery + anti-join + per-code rollup. The above-average test is
# exact (cents·count vs Σcents integer cross-multiply); balances roll up
# in cents and divide once.
Q22_NATIONS = (1, 3, 5, 7, 9, 11, 13)
Q22_CUTOFF = "1999-01-01"


def q70_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*Q22_NATIONS)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    stats = c.filter(F.col("bal_cents") > 0).agg(
        F.count("*").alias("n_pos"), F.sum("bal_cents").alias("sum_pos")
    )
    rich = c.join(F.broadcast(stats)).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= Q22_CUTOFF
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        rich.join(recent, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


QUERIES["q70_sales_opportunity"] = q70_sales_opportunity
ORACLE["q70_sales_opportunity"] = f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer WHERE c_nationkey IN {Q22_NATIONS!r}),
    s AS (SELECT COUNT(*) AS n_pos, SUM(bal_cents) AS sum_pos
          FROM c WHERE bal_cents > 0)
    SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust,
           ROUND(SUM(bal_cents) / 100.0, 2) AS totacctbal
    FROM c, s
    WHERE bal_cents * n_pos > sum_pos
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '{Q22_CUTOFF}')
    GROUP BY c_nationkey
    ORDER BY cntrycode"""
