"""Relational operator surface (SURVEY.md §2 Tier B): scans, filters,
joins, aggregations, windows, sorts, set ops, scalar functions, keyset
pagination — each with a DuckDB oracle.

Spark-first notes: dimension joins broadcast explicitly; aggregations rely
on Catalyst partial aggregation; windows declare explicit ROWS frames;
filters/projections are plain expressions so they push into the parquet
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import (
    fan_out_undersplit_scan,
    load_table,
)


def _dsum(col, digits=2, scale="decimal(18,4)"):
    """Exact (partition-order-independent) sum of a double measure: sum in
    decimal, emit rounded double."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.round(F.sum(c.cast(scale)).cast("double"), digits)


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       round(cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       round(cast(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price,
       round(cast(sum(cast(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_charge,
       round(cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(cast(sum(cast(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(cast(sum(cast(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1-style pricing summary: filtered scan + grouped aggregation.",
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    # All eight aggregates are exact decimal sums / counts (partition-order
    # independent), so an under-split input — a few large single-row-group
    # files that would serialize the partial aggregation onto as many cores
    # as there are row groups — can be fanned out after projecting to the
    # six columns the aggregation reads. No-op on properly split inputs.
    l = fan_out_undersplit_scan(
        l.select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
    )
    n = F.count("*")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_base_price"),
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double"), 2).alias("sum_disc_price"),
        F.round(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
                  .cast("decimal(18,6)")).cast("double"), 2).alias("sum_charge"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double") / n, 6).alias("avg_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / n, 6).alias("avg_price"),
        F.round(F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double") / n, 6).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "q02_filter_predicates",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_type, p_size
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_type IN ('ECONOMY', 'SMALL')
  AND p_brand LIKE 'Brand#1%'
  AND p_name NOT LIKE '%green%'
""",
    doc="Predicate surface: BETWEEN / IN / LIKE / NOT LIKE pushed to the scan.",
)
def q02(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_type").isin("ECONOMY", "SMALL")
        & F.col("p_brand").like("Brand#1%")
        & ~F.col("p_name").like("%green%")
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "q03_revenue_topn",
    oracle="""
SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       round(cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3-style: 3-way join + grouped revenue + deterministic top-N.",
)
def q03(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
                .cast("double"), 2).alias("revenue")
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q04_join_region_rollup",
    oracle="""
SELECT r.r_name, n.n_name, count(*) AS n_customers,
       round(cast(sum(cast(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
    doc="Star join through two broadcast dimensions + grouped agg.",
)
def q04(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), _dsum("c_acctbal").alias("total_acctbal"))
    )


@query(
    "q05_count_distinct",
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       round(cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
FROM orders GROUP BY o_orderpriority
""",
    doc="COUNT DISTINCT + grouped agg.",
)
def q05(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            _dsum("o_totalprice").alias("total"),
        )
    )


@query(
    "q06_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
       round(cast(sum(cast(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP with GROUPING() markers.",
)
def q06(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            _dsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty", "n")
    )


@query(
    "q07_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over two dimensions.",
)
def q07(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), _dsum("o_totalprice").alias("total"))
    )


@query(
    "q08_grouping_sets",
    oracle="""
SELECT c_mktsegment, c_nationkey, count(*) AS n
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
    doc="Explicit GROUPING SETS via the SQL surface.",
)
def q08(spark, sf_dir):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q08_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM q08_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "q09_median_percentile",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem GROUP BY l_returnflag
""",
    doc="Exact interpolated percentiles (quantile_cont ≡ percentile).",
)
def q09(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        )
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@query(
    "q10_window_topk",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="Per-group top-k via row_number (deterministic tiebreak).",
)
def q10(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "q11_window_running",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(cast(sum(cast(o_totalprice AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total,
       round(cast(lag(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE), 2) AS prev_price,
       round(cast(lead(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE), 2) AS next_price
FROM orders
""",
    doc="Running sum with explicit ROWS frame + lag/lead.",
)
def q11(spark, sf_dir):
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(wf).cast("double"), 2)
        .alias("running_total"),
        F.round(F.lag("o_totalprice").over(wo).cast("double"), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(wo).cast("double"), 2).alias("next_price"),
    )


@query(
    "q12_rank_dense",
    oracle="""
SELECT s_suppkey, s_name,
       rank() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rnk,
       dense_rank() OVER (ORDER BY s_nationkey) AS nation_grp,
       ntile(4) OVER (ORDER BY s_acctbal DESC, s_suppkey) AS quartile
FROM supplier
""",
    doc="rank / dense_rank / ntile global windows.",
)
def q12(spark, sf_dir):
    w1 = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    w2 = Window.orderBy("s_nationkey")
    return load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.rank().over(w1).alias("rnk"),
        F.dense_rank().over(w2).alias("nation_grp"),
        F.ntile(4).over(w1).alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------


@query(
    "q13_sort_limit",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    doc="Global top-N (Spark TakeOrderedAndProject — no full sort).",
)
def q13(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q14_union_all",
    oracle="""
SELECT nationkey, count(*) AS n FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) GROUP BY nationkey
""",
    doc="UNION ALL + regroup.",
)
def q14(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).groupBy("nationkey").agg(F.count("*").alias("n"))


@query(
    "q15_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
    doc="INTERSECT (distinct set semantics).",
)
def q15(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q16_except",
    oracle="""
SELECT n_nationkey FROM nation
EXCEPT
SELECT c_nationkey FROM customer
""",
    doc="EXCEPT (distinct set semantics).",
)
def q16(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation").select("n_nationkey")
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    return n.subtract(c)  # EXCEPT (distinct)


@query(
    "q17_semi_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    doc="Left-semi join (EXISTS).",
)
def q17(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q18_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left-anti join (NOT EXISTS).",
)
def q18(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q19_outer_join_coalesce",
    oracle="""
SELECT n.n_name, coalesce(x.n_cust, 0) AS n_cust
FROM nation n LEFT JOIN (
  SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey
) x ON x.c_nationkey = n.n_nationkey
""",
    doc="Left outer join against a derived aggregate with null repair.",
)
def q19(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    x = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    return n.join(x, n.n_nationkey == x.c_nationkey, "left").select(
        "n_name", F.coalesce("n_cust", F.lit(0)).alias("n_cust")
    )


# ---------------------------------------------------------------------------
# Scalar functions
# ---------------------------------------------------------------------------


@query(
    "q20_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       lower(p_name) AS name_l,
       substring(p_type, 1, 4) AS type4,
       concat_ws('|', p_brand, p_type) AS brand_type,
       length(p_name) AS name_len,
       replace(p_name, ' ', '_') AS name_us,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word
FROM part WHERE p_partkey <= 100
""",
    doc="String function surface.",
)
def q20(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_name").alias("name_l"),
        F.substring("p_type", 1, 4).alias("type4"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
    )


@query(
    "q21_date_funcs",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       count(*) AS n_orders,
       round(cast(sum(cast(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM orders
WHERE year(o_orderdate) BETWEEN 1996 AND 1998
GROUP BY ym
""",
    doc="Date bucketing: monthly revenue.",
)
def q21(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate").between(1996, 1998))
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice").alias("revenue"))
    )


@query(
    "q22_case_when",
    oracle="""
SELECT l_returnflag,
       round(cast(sum(CASE WHEN l_discount > 0.05
                     THEN cast(l_extendedprice AS DECIMAL(18,4))
                     ELSE cast(0 AS DECIMAL(18,4)) END) AS DOUBLE), 2) AS discounted_rev,
       CAST(sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS bulk_lines,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
HAVING count(*) > 10
""",
    doc="Conditional aggregation + HAVING.",
)
def q22(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice").cast("decimal(18,4)"))
                    .otherwise(F.lit(0).cast("decimal(18,4)"))
                ).cast("double"), 2).alias("discounted_rev"),
            F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0)).alias("bulk_lines"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") > 10)
    )


@query(
    "q23_json_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k,
       max(CAST(props->>'$.k' AS INTEGER)) AS max_k
FROM events GROUP BY event_type
""",
    doc="JSON path extraction from a string column (get_json_object).",
)
def q23(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "q24_array_funcs",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
       round(CAST(embedding[len(embedding)] AS DOUBLE), 6) AS last_val,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val
FROM embeddings WHERE vec_id < 50
""",
    doc="Array functions: size / element_at / array_max.",
)
def q24(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.element_at("embedding", -1).cast("double"), 6).alias("last_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Keyset pagination / as-of / range joins (reference A2/A19 rebuilt)
# ---------------------------------------------------------------------------


@query(
    "q25_keyset_page",
    oracle="""
SELECT event_id, epoch_us(ts) AS ts_us, event_type
FROM events
WHERE (ts, event_id) > (TIMESTAMP '2024-01-15 00:00:00', 0)
ORDER BY ts, event_id
LIMIT 100
""",
    doc="Keyset (search_after) pagination page: composite cursor predicate + "
    "ordered limit (reference ElasticSearch ETL.py:220-267 rebuilt as a "
    "cursor predicate — checkpointless incremental scan).",
)
def q25(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    cur_ts = F.to_timestamp(F.lit("2024-01-15 00:00:00"))
    page = (
        e.filter((F.col("ts") > cur_ts) | ((F.col("ts") == cur_ts) & (F.col("event_id") > 0)))
        .orderBy("ts", "event_id")
        .limit(100)
    )
    return page.select("event_id", F.unix_micros("ts").alias("ts_us"), "event_type")


@query(
    "q26_asof_join",
    oracle="""
WITH purchases AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
     clicks    AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    doc="As-of join (latest prior click per purchase), built as a "
    "union+window merge — one shuffle by (user, time), no join explosion.",
)
def q26(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    # union the two streams, sort by (user, ts), carry the last click forward
    tagged = p.withColumn("click_id", F.lit(None).cast("long")).withColumn(
        "is_p", F.lit(1)
    ).unionByName(
        c.withColumn("purchase_id", F.lit(None).cast("long")).withColumn("is_p", F.lit(0))
    )
    # clicks sort before purchases at identical ts (ASOF >= matches same-ts)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged.select(
        "user_id",
        "purchase_id",
        "ts",
        "is_p",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True).over(w).alias("click_ts"),
    )
    return merged.filter(F.col("is_p") == 1).select(
        "purchase_id",
        "click_id",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


@query(
    "q27_range_join",
    oracle="""
SELECT o.o_orderkey, count(*) AS n_shipped_90d
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
GROUP BY o.o_orderkey
""",
    doc="Range join: equi-key + interval band predicate.",
)
def q27(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate >= o.o_orderdate)
            & (l.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_shipped_90d"))
    )


@query(
    "q28_exists_subquery_agg",
    oracle="""
SELECT o_orderstatus, count(*) AS n
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
GROUP BY o_orderstatus
""",
    doc="EXISTS-correlated subquery folded to a semi-join + agg.",
)
def q28(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q29_tumbling_window",
    oracle="""
SELECT (epoch(ts)::BIGINT // 21600) * 21600 AS bucket_s,
       event_type,
       count(*) AS n,
       round(cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY bucket_s, event_type
""",
    doc="Tumbling 6-hour windows (batch analog of the streaming window agg; "
    "F.window aligns to the epoch, same as the floor-div oracle).",
)
def q29(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
            .alias("total_value"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("bucket_s"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "q64_sessionize",
    oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 1 HOUR) AS session_end_us,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM g GROUP BY user_id, sid
""",
    doc="Batch sessionization via Spark's session_window (gap 1 h) — the "
    "same operator the streaming path uses, so backfill and live stream "
    "agree. Oracle: gaps-and-islands (lag + running sum). An event at "
    "EXACTLY the gap boundary merges (verified against session_window in "
    "tests) — a new session needs diff > gap, so the oracle uses strict >.",
)
def q64(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.windows import sessionize_batch

    return sessionize_batch(load_table(spark, sf_dir, "events"), gap="1 hour")


# ---------------------------------------------------------------------------
# Scalar-function breadth + subqueries
# ---------------------------------------------------------------------------


@query(
    "q80_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_discount - 0.05), 6) AS abs_v,
       CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil_v,
       CAST(floor(l_quantity / 7) AS BIGINT) AS floor_v,
       round(sqrt(l_extendedprice), 6) AS sqrt_v,
       round(ln(l_extendedprice + 1), 6) AS ln_v,
       round(log10(l_extendedprice + 1), 6) AS log10_v,
       round(pow(1 + l_tax, 2), 6) AS pow_v,
       CAST(l_partkey % 7 AS BIGINT) AS mod_v,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_v
FROM lineitem WHERE l_orderkey <= 100
""",
    doc="Math function surface (abs/ceil/floor/sqrt/ln/log10/pow/mod/sign).",
)
def q80(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_v"),
        F.ceil(F.col("l_quantity") / 7).alias("ceil_v"),
        F.floor(F.col("l_quantity") / 7).alias("floor_v"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_v"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_v"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("log10_v"),
        F.round(F.pow(F.lit(1) + F.col("l_tax"), 2), 6).alias("pow_v"),
        (F.col("l_partkey") % 7).alias("mod_v"),
        F.signum(F.col("l_discount") - 0.05).alias("sign_v"),
    )


@query(
    "q81_null_handling",
    oracle="""
SELECT s_suppkey,
       nullif(s_nationkey, 0) AS nk_nullif,
       coalesce(nullif(s_nationkey, 0), -1) AS nk_repaired,
       (nullif(s_nationkey, 0) IS NOT DISTINCT FROM NULL) AS is_zero,
       CASE WHEN s_acctbal IS NULL THEN 'missing' ELSE 'present' END AS bal_state
FROM supplier
""",
    doc="NULL semantics: nullif / coalesce / null-safe comparison.",
)
def q81(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    nk = F.nullif(F.col("s_nationkey"), F.lit(0))
    return s.select(
        "s_suppkey",
        nk.alias("nk_nullif"),
        F.coalesce(nk, F.lit(-1)).alias("nk_repaired"),
        nk.eqNullSafe(F.lit(None).cast("int")).alias("is_zero"),
        F.when(F.col("s_acctbal").isNull(), "missing").otherwise("present").alias("bal_state"),
    )


@query(
    "q82_string_more",
    oracle="""
SELECT p_partkey,
       lpad(p_brand, 12, '*') AS pad_l,
       rpad(p_brand, 12, '*') AS pad_r,
       trim(concat('  ', p_name, '  ')) AS trimmed,
       reverse(p_brand) AS rev,
       strpos(p_name, ' ') AS space_at,
       split_part(p_name, ' ', 1) AS word1,
       repeat(p_type, 2) AS doubled,
       left(p_name, 3) AS l3,
       right(p_name, 3) AS r3,
       translate(p_brand, '#', '-') AS tr
FROM part WHERE p_partkey <= 60
""",
    doc="Extended string surface (pad/trim/reverse/strpos/split_part/...).",
)
def q82(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 60)
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("pad_l"),
        F.rpad("p_brand", 12, "*").alias("pad_r"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.reverse("p_brand").alias("rev"),
        F.instr("p_name", " ").alias("space_at"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("word1"),
        F.repeat(F.col("p_type"), 2).alias("doubled"),
        F.substring("p_name", 1, 3).alias("l3"),
        F.col("p_name").substr(F.length("p_name") - 2, F.lit(3)).alias("r3"),
        F.translate("p_brand", "#", "-").alias("tr"),
    )


@query(
    "q83_date_more",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate) AS y,
       quarter(o_orderdate) AS q,
       month(o_orderdate) AS m,
       day(o_orderdate) AS d,
       datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00')::BIGINT AS days_to_y2k,
       strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d
FROM orders WHERE o_orderkey <= 200
""",
    doc="Date arithmetic surface (extract fields, datediff, last_day, interval add).",
)
def q83(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.datediff(F.to_timestamp(F.lit("2000-01-01 00:00:00")), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd")
        .alias("plus_30d"),
    )


@query(
    "q84_scalar_subquery",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
""",
    doc="Scalar subquery via the SQL surface.",
)
def q84(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q84_orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM q84_orders
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM q84_orders)
        """
    )


@query(
    "q85_in_subquery",
    oracle="""
SELECT n_name FROM nation
WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
""",
    doc="IN-subquery via the SQL surface (decorrelates to a semi join).",
)
def q85(spark, sf_dir):
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q85_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q85_customer")
    return spark.sql(
        """
        SELECT n_name FROM q85_nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM q85_customer WHERE c_acctbal > 9000)
        """
    )


@query(
    "q86_literal_dim_join",
    oracle="""
SELECT w.weight, count(*) AS n
FROM orders o JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                          ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) AS w(prio, weight)
  ON o.o_orderpriority = w.prio
GROUP BY w.weight
""",
    doc="Join against an inline literal dimension (broadcast by construction).",
)
def q86(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3), ("4-NOT SPECIFIED", 2), ("5-LOW", 1)],
        "prio string, weight int",
    )
    return (
        o.join(F.broadcast(dim), o.o_orderpriority == dim.prio)
        .groupBy("weight")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q87_approx_count_distinct",
    # HLL++ estimates are engine-specific, so the raw estimate cannot be
    # hash-compared against DuckDB. Instead Spark emits the exact distinct
    # count (checkable) plus a boolean asserting the estimate lands within
    # 5% of it (measured error at sf0.001/sf0.01 is <=0.7%; HLL++ is
    # deterministic per dataset — no RNG); the oracle computes its own exact
    # count and asserts TRUE.
    oracle="""
SELECT o_orderstatus,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS approx_within_5pct
FROM orders GROUP BY o_orderstatus
""",
    doc="approx_count_distinct (HyperLogLog++) validated against the exact "
    "count: emits a checkable accuracy bound instead of the engine-specific "
    "raw estimate.",
)
def q87(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                / F.col("exact_customers")
                <= F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
    )


@query(
    "q68_ntile_deciles",
    oracle="""
WITH b AS (
  SELECT o_orderstatus, o_totalprice,
         ntile(10) OVER (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT o_orderstatus, decile, count(*) AS n,
       round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
FROM b GROUP BY o_orderstatus, decile
""",
    doc="Equal-frequency decile buckets per group (ntile window; ties "
    "broken by key for cross-engine determinism) with per-bucket ranges — "
    "the histogram/binning primitive.",
)
def q68(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("decile", F.ntile(10).over(w))
        .groupBy("o_orderstatus", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "q69_group_concat",
    oracle="""
SELECT o_orderstatus,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios
FROM orders GROUP BY o_orderstatus
""",
    doc="Ordered group concatenation (listagg): collect_set -> sort_array "
    "-> array_join keeps the result deterministic under any partitioning.",
)
def q69(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("prios")
    )


@query(
    "q67_hll_sketch_distinct",
    # Apache DataSketches HLL buffers/estimates are engine-specific → the
    # checkable surface is the exact distinct count plus a Spark-computed
    # boolean that the sketch estimate is within 5% of it (DataSketches HLL
    # is deterministic per dataset; measured error at sf0.001/sf0.01 is 0%).
    # Sketch MERGEABILITY (the property that makes distinct-count
    # pre-aggregation work at 100 TB: per-partition / per-day sketches union
    # via hll_union_agg without re-reading raw data) is asserted in
    # tests/test_sketches.py.
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
""",
    doc="Mergeable HLL sketch per group: hll_sketch_agg buffers roll up "
    "via hll_union_agg — the incremental-rollup path for distinct counts; "
    "emits an oracle-checkable accuracy bound next to the exact count.",
)
def q67(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ).alias("approx_within_5pct"),
        )
    )


@query(
    "q88_posexplode",
    oracle="""
SELECT doc_id,
       CAST(unnest(range(len(ws))) AS INTEGER) AS pos,
       unnest(ws) AS w
FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 5) t
""",
    doc="posexplode: positional flattening of an array column.",
)
def q88(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))


@query(
    "q89_full_outer_join",
    oracle="""
SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
  ON c.c_nationkey = s.s_nationkey
""",
    doc="Full outer join of two aggregates with null repair.",
)
def q89(spark, sf_dir):
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "q90_map_functions",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
       len(json_keys(props)) AS n_keys,
       list_sort(json_keys(props))[1] AS first_key
FROM events WHERE event_id < 50
""",
    doc="Map/JSON functions: parse the props column as a map, inspect keys "
    "and values (map_keys / element_at).",
)
def q90(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_sort(F.map_keys(m)).getItem(0).alias("first_key"),
    )


@query(
    "q91_pivot",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
""",
    doc="Pivot order status into columns (groupBy().pivot() with explicit "
    "value list so no extra distinct-values job runs).",
)
def q91(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in "FOP"],
    )


@query(
    "q92_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
FROM lineitem WHERE l_orderkey < 100
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey < 100
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_orderkey < 100
""",
    doc="Unpivot measures to rows via stack() (the UNION ALL analog without "
    "re-scanning the table per measure).",
)
def q92(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, val)",
    )


@query(
    "q93_stats_agg",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4) AS sd_qty,
       round(var_samp(l_quantity), 4) AS var_qty,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
FROM lineitem GROUP BY l_returnflag
""",
    doc="Statistical aggregates: stddev/variance/corr/covariance.",
)
def q93(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
    )


@query(
    "q94_window_distribution",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""",
    doc="Distribution window functions: ntile / percent_rank / cume_dist "
    "(ties broken by key so ranks are total-order deterministic).",
)
def q94(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "q95_sessionize",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
  FROM events)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM gaps GROUP BY user_id
""",
    doc="Batch sessionization: 30-min-gap session starts counted per user "
    "(one window pass + one aggregation; the streaming analog is "
    "session_window in streaming/windows.py).",
)
def q95(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        e.select("user_id", new_sess.alias("ns"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("ns").alias("n_sessions"))
    )


@query(
    "q96_regexp_extract_all",
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '(\\w*or\\w*)')) AS n_hits,
       coalesce(regexp_extract_all(text, '(\\w*or\\w*)')[1], '') AS first_hit
FROM documents WHERE doc_id < 200
""",
    doc="regexp_extract_all: all matches of a pattern per document.",
)
def q96(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    hits = F.regexp_extract_all("text", F.lit(r"(\w*or\w*)"))
    return d.select(
        "doc_id",
        F.size(hits).alias("n_hits"),
        F.coalesce(F.get(hits, 0), F.lit("")).alias("first_hit"),
    )


@query(
    "q97_rolling_time_window",
    oracle="""
SELECT event_id,
       count(*) OVER w AS n_1h,
       round(cast(sum(cast(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 2) AS sum_1h
FROM events
WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    doc="Rolling 1-hour event-time window per user (RANGE frame over "
    "epoch-micros; peers at equal ts make it tie-deterministic).",
)
def q97(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double"), 2
        ).alias("sum_1h"),
    )


@query(
    "q98_nth_value",
    oracle="""
SELECT DISTINCT o_custkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    doc="first/last/nth_value with an explicit full-partition ROWS frame.",
)
def q98(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    ).distinct()


@query(
    "q99_bool_bit_agg",
    oracle="""
SELECT l_returnflag,
       bool_and(l_discount <= 0.08) AS all_low_disc,
       bool_or(l_tax > 0.07) AS any_high_tax,
       bit_and(l_orderkey) AS band,
       bit_or(l_orderkey) AS bor,
       bit_xor(l_orderkey) AS bxor
FROM lineitem GROUP BY l_returnflag
""",
    doc="Boolean and bitwise aggregates.",
)
def q99(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.08).alias("all_low_disc"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.bit_and("l_orderkey").alias("band"),
        F.bit_or("l_orderkey").alias("bor"),
        F.bit_xor("l_orderkey").alias("bxor"),
    )


def _q73_oracle() -> str:
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql(
        "o_custkey", "(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)))"
    )
    return f"SELECT o_orderkey, {z} AS zkey FROM orders"


@query(
    "q73_zorder_key",
    oracle=_q73_oracle(),
    doc="Z-order (Morton) clustering key over (customer, order day) — the "
    "multi-column file-skipping layout: writing files range-partitioned on "
    "this key keeps BOTH columns' min/max tight per file, so parquet footer "
    "stats prune scans filtered on either column. Pure bit arithmetic, "
    "codegen-able; see operators/layout.py::write_zordered for the sink.",
)
def q73(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.layout import zorder_key

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
    return o.select("o_orderkey", zorder_key(F.col("o_custkey"), day).alias("zkey"))


_Q74_LO, _Q74_HI, _Q74_BINS = 900.0, 105000.0, 256


def _q74_oracle() -> str:
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import binned_sketch_sql

    lo, hi, bins = _Q74_LO, _Q74_HI, _Q74_BINS
    width = (hi - lo) / bins
    sk = binned_sketch_sql("lineitem", ["l_returnflag"], "l_extendedprice", lo, hi, bins)
    # every literal cast to DOUBLE: DuckDB parses `900.0` as DECIMAL and
    # would carry decimal arithmetic where Spark computes IEEE doubles
    picks = ", ".join(
        f"round({lo!r}::DOUBLE + (min(CASE WHEN cum >= {q}::DOUBLE * total THEN bin END)"
        f" + 0.5::DOUBLE) * {width!r}::DOUBLE, 6) AS p{int(q * 100):02d}"
        for q in (0.5, 0.9, 0.99)
    )
    return f"""
WITH sk AS ({sk}),
c AS (SELECT l_returnflag, bin,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS total
      FROM sk)
SELECT l_returnflag, {picks} FROM c GROUP BY l_returnflag
"""


@query(
    "q74_binned_quantile_sketch",
    oracle=_q74_oracle(),
    doc="Mergeable quantile sketch: equi-width histogram per group (one "
    "partial-aggregated shuffle; bins add associatively across shards — "
    "the t-digest/KLL rollup pattern with deterministic arithmetic), then "
    "p50/p90/p99 extracted from the tiny sketch relation. Merge-equals-"
    "global pinned in tests/test_sketches.py.",
)
def q74(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sketches

    li = load_table(spark, sf_dir, "lineitem")
    sk = sketches.binned_sketch(
        li, ["l_returnflag"], "l_extendedprice", _Q74_LO, _Q74_HI, _Q74_BINS
    )
    return sketches.sketch_quantiles(
        sk, ["l_returnflag"], (0.5, 0.9, 0.99), _Q74_LO, _Q74_HI, _Q74_BINS
    )


# ---------------------------------------------------------------------------
# Round 2 additions: semi-structured Variant, CDC latest-by-key, mode,
# histogram binning
# ---------------------------------------------------------------------------


@query(
    "q76_variant_json",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
       count(DISTINCT CAST(props->>'$.k' AS INTEGER)) AS n_distinct_k
FROM events
WHERE CAST(props->>'$.k' AS INTEGER) % 2 = 0
GROUP BY event_type
""",
    doc="Semi-structured JSON via Spark 4 VARIANT: parse_json once, then "
    "typed variant_get path extraction — the columnar-binary encoding "
    "reads the path without re-parsing the JSON text per access, the "
    "scale answer for schema-on-read columns (reference's whole data "
    "model, ElasticSearch ETL.py:37-76). Oracle uses DuckDB JSON ops.",
)
def q76(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k") % 2 == 0)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
        )
    )


@query(
    "q77_latest_by_key",
    oracle="""
SELECT user_id,
       arg_max(event_id, printf('%020d|%012d', epoch_us(ts), event_id)) AS last_event_id,
       arg_max(event_type, printf('%020d|%012d', epoch_us(ts), event_id)) AS last_event_type,
       count(*) AS n_events
FROM events GROUP BY user_id
""",
    doc="CDC 'latest row per key' as ONE partial-aggregated shuffle "
    "(max_by over a sortable composite key) instead of a window sort: "
    "map-side combine collapses each partition to one candidate per key "
    "before the exchange, so at 100 TB the shuffle carries |keys| rows, "
    "not |events|. Composite key = (ts, event_id) encoded sortable so the "
    "tiebreak is deterministic cross-engine.",
)
def q77(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    key = F.format_string("%020d|%012d", F.unix_micros("ts"), F.col("event_id"))
    return e.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.max_by("event_type", key).alias("last_event_type"),
        F.count("*").alias("n_events"),
    )


@query(
    "q78_mode_per_group",
    oracle="""
WITH c AS (SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY user_id, event_type)
SELECT user_id,
       arg_min(event_type, printf('%012d|%s', 999999999999 - cnt, event_type)) AS top_type,
       max(cnt) AS top_cnt
FROM c GROUP BY user_id
""",
    doc="Deterministic per-key mode: two partial-aggregated shuffles "
    "(count, then min_by on a (-count, value) sortable key) — ties break "
    "lexicographically, unlike engine-dependent mode(). Both shuffles "
    "combine map-side; no window sort, no collect.",
)
def q78(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    key = F.format_string(
        "%012d|%s", F.lit(999999999999) - F.col("cnt"), F.col("event_type")
    )
    return c.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("top_type"),
        F.max("cnt").alias("top_cnt"),
    )


_Q79_LO, _Q79_HI, _Q79_BINS = 0.0, 500.0, 20


@query(
    "q79_histogram",
    oracle=f"""
SELECT CAST(CASE WHEN value < {_Q79_LO} THEN 0
            WHEN value >= {_Q79_HI} THEN {_Q79_BINS} + 1
            ELSE floor((value - {_Q79_LO}) / (({_Q79_HI} - {_Q79_LO}) / {_Q79_BINS})) + 1
       END AS BIGINT) AS bucket,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
FROM events GROUP BY bucket
""",
    doc="Equi-width histogram via width_bucket: single partial-aggregated "
    "shuffle of at most bins+2 groups — the distributed histogram plan "
    "(per-partition bin counts merge associatively). Oracle replicates "
    "width_bucket's under/overflow buckets 0 and n+1 arithmetically.",
)
def q79(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.width_bucket("value", F.lit(_Q79_LO), F.lit(_Q79_HI), F.lit(_Q79_BINS))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
                "sum_value"
            ),
        )
    )


@query(
    "q108_scd2",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(lead(o_orderdate) OVER w) AS valid_to_us,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    doc="SCD type-2 history build (the warehouse change-tracking pattern): "
    "each change record's validity interval is [its ts, next change ts) "
    "via one lead() window — a single shuffle on the business key, no "
    "self-join. Deterministic tiebreak on the order key; timestamps "
    "compared as unix micros per the cross-engine rules.",
)
def q108(spark, sf_dir):
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        # NTZ parquet timestamps -> LTZ in the UTC session, matching the
        # oracle's naive epoch_us (same normalization as events.ts)
        .withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.unix_micros("o_orderdate").alias("valid_from_us"),
        F.unix_micros(nxt).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q120_null_safe_join",
    oracle="""
WITH a AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS pr
           FROM orders WHERE o_orderkey < 500),
b AS (SELECT DISTINCT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS pr
      FROM orders WHERE o_orderkey < 200)
SELECT a.o_orderkey, a.pr
FROM a JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
""",
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match "
    "each other instead of silently dropping — the semantics a CDC or "
    "late-dimension merge needs. Still hash-partitionable (null-safe "
    "equality is a valid shuffle key), unlike an OR-of-IS-NULL rewrite.",
)
def q120(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
    )
    b = (
        o.filter(F.col("o_orderkey") < 200)
        .select(
            F.when(F.col("o_orderkey") % 5 == 0, None)
            .otherwise(F.col("o_orderpriority"))
            .alias("pr")
        )
        .distinct()
        .withColumnRenamed("pr", "b_pr")
    )
    return a.join(b, a["pr"].eqNullSafe(b["b_pr"])).select("o_orderkey", "pr")


@query(
    "q121_union_schema_evolution",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, NULL AS o_clerk FROM orders
WHERE o_orderkey < 100
UNION ALL
SELECT o_orderkey, o_orderstatus, NULL, 'clerk_' || CAST(o_custkey AS VARCHAR)
FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200
""",
    doc="Schema-evolving union (unionByName allowMissingColumns): the "
    "relational twin of the flattener's cross-document schema union (A6) "
    "— an old extract without o_clerk and a new one without o_totalprice "
    "align by NAME with nulls for absent columns, instead of the "
    "positional corruption plain UNION would produce.",
)
def q121(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 200)).select(
        "o_orderkey",
        "o_orderstatus",
        F.concat(F.lit("clerk_"), F.col("o_custkey").cast("string")).alias("o_clerk"),
    )
    return old.unionByName(new, allowMissingColumns=True)


@query(
    "q123_funnel",
    oracle="""
WITH stage AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id),
f AS (
  SELECT user_id,
         t_view IS NOT NULL AS s1,
         t_view IS NOT NULL AND t_click > t_view AS s2,
         t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click AS s3
  FROM stage)
SELECT CAST(sum(s1::INT) AS BIGINT) AS n_view,
       CAST(sum(s2::INT) AS BIGINT) AS n_click_after_view,
       CAST(sum(s3::INT) AS BIGINT) AS n_purchase_after_click,
       round(sum(s3::INT) / CAST(sum(s1::INT) AS DOUBLE), 6) AS conversion
FROM f
""",
    doc="Funnel analysis (view -> click -> purchase, strictly ordered by "
    "first occurrence): one conditional-min aggregation per user — a "
    "single partial-aggregated shuffle over (user, 3 timestamps), no "
    "self-joins, no window — then a global rollup. NULL stage times "
    "fail the > comparisons, so missing stages drop out without "
    "explicit guards.",
)
def q123(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stage = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_buy") > F.col("t_click"))
    f = stage.select(
        s1.cast("int").alias("s1"), s2.cast("int").alias("s2"), s3.cast("int").alias("s3")
    )
    return f.agg(
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_click_after_view"),
        F.sum("s3").cast("bigint").alias("n_purchase_after_click"),
        F.round(F.sum("s3") / F.sum("s1").cast("double"), 6).alias("conversion"),
    )


@query(
    "q124_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
       CAST(day - cohort_day AS BIGINT) // 7 AS week_offset,
       count(DISTINCT a.user_id) AS n_active
FROM firsts f JOIN activity a USING (user_id)
WHERE f.cohort_day < DATE '2024-01-08'
GROUP BY f.cohort_day, week_offset
""",
    doc="Cohort retention matrix: users bucketed by first-seen day, "
    "activity counted per week offset — first-touch via one min "
    "aggregation, one distinct-activity projection, one equi-join on "
    "user_id (both sides already partial-aggregated), then the matrix "
    "rollup. The standard growth-analytics rollup with no window "
    "functions and no per-cohort scans.",
)
def q124(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    firsts = (
        e.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_day"))
        .filter(F.col("cohort_day") < F.lit("2024-01-08").cast("date"))
    )
    activity = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.floor(F.datediff("day", "cohort_day") / 7).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "q125_fuzzy_match",
    oracle="""
WITH p AS (SELECT p_partkey, p_name, substring(p_name, 1, 1) AS blk
           FROM part WHERE p_partkey < 2000)
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_name AS a_name, b.p_name AS b_name,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM p a JOIN p b
  ON a.blk = b.blk
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3 AND a.p_name <> b.p_name
""",
    doc="Entity resolution / fuzzy string matching: near-identical names "
    "within a blocking key (first char + length band — the standard "
    "record-linkage trick that turns quadratic edit-distance comparison "
    "into per-block equi-joins), scored with levenshtein <= 3. At 100 TB "
    "the block key is coarser hashing/phonetic codes but the join shape "
    "is identical.",
)
def q125(spark, sf_dir):
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 2000)
        .select("p_partkey", "p_name", F.substring("p_name", 1, 1).alias("blk"))
    )
    a = p.select(
        F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"), "blk"
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"), "blk"
    )
    dist = F.levenshtein("a_name", "b_name")
    return (
        a.join(b, "blk")
        .filter(
            (F.abs(F.length("a_name") - F.length("b_name")) <= 2)
            & (F.col("a_key") < F.col("b_key"))
        )
        .filter((dist <= 3) & (F.col("a_name") != F.col("b_name")))
        .select("a_key", "b_key", "a_name", "b_name", dist.cast("int").alias("dist"))
    )


@query(
    "q126_anomaly_days",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY event_type, day),
w AS (
  SELECT event_type, day, n,
         avg(n) OVER win AS mu,
         stddev_samp(n) OVER win AS sd,
         count(*) OVER win AS n_hist
  FROM daily
  WINDOW win AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, CAST(day AS VARCHAR) AS day, n,
       round((n - mu) / sd, 3) AS z
FROM w
WHERE n_hist = 7 AND sd > 0 AND abs((n - mu) / sd) > 2
""",
    doc="Operational anomaly detection: per-type daily counts scored "
    "against the trailing 7-day window (z-score over ROWS BETWEEN 7 "
    "PRECEDING AND 1 PRECEDING — the current day never contaminates its "
    "own baseline). One partial-aggregated rollup + one window pass; "
    "flags |z| > 2 with a full-history guard.",
)
def q126(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    win = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(win).alias("mu"),
        F.stddev_samp("n").over(win).alias("sd"),
        F.count("*").over(win).alias("n_hist"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        w.filter((F.col("n_hist") == 7) & (F.col("sd") > 0) & (F.abs(z) > 2))
        .select("event_type", F.col("day").cast("string").alias("day"), "n",
                F.round(z, 3).alias("z"))
    )


@query(
    "q127_snapshot_diff",
    oracle="""
WITH old AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
new AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS h
        FROM documents WHERE doc_id % 13 <> 0)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM old FULL OUTER JOIN new USING (doc_id)
WHERE old.doc_id IS NULL OR new.doc_id IS NULL OR old.h <> new.h
""",
    doc="Snapshot diff (the CDC between two table versions): full outer "
    "join on the key comparing 16-byte content hashes — added / removed "
    "/ changed rows in one pass, raw text never shuffles. The input "
    "derives both snapshots deterministically from the corpus (drop "
    "every 11th vs every 13th doc, rewrite every 7th).",
)
def q127(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit(" v2")))
        ).otherwise(F.md5("text")).alias("h"),
    )
    o = old.withColumnRenamed("h", "old_h").withColumnRenamed("doc_id", "old_id")
    n = new.withColumnRenamed("h", "new_h").withColumnRenamed("doc_id", "new_id")
    j = o.join(n, o["old_id"] == n["new_id"], "full_outer")
    change = (
        F.when(F.col("old_id").isNull(), "added")
        .when(F.col("new_id").isNull(), "removed")
        .otherwise("changed")
    )
    return j.filter(
        F.col("old_id").isNull()
        | F.col("new_id").isNull()
        | (F.col("old_h") != F.col("new_h"))
    ).select(F.coalesce("old_id", "new_id").alias("doc_id"), change.alias("change"))
