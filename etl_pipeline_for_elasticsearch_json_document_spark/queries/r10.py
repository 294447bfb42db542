"""Round-10 query registrations: the remaining TPC-H decorrelation
stress shapes the registry lacked (VERDICT r9 item 7) — Q17's
correlated scalar average per part (small-quantity revenue), Q21's
multi-EXISTS/NOT-EXISTS self-join on lineitem (suppliers who kept
orders waiting), and Q9's multi-way profit rollup by nation and year —
plus three more optimizer classics: Q15's scalar-max join-back (top
supplier), Q19's disjunctive OR-of-ANDs with implied-predicate
derivation, and Q20's double-nested two-grain decorrelation (dominant
product-line suppliers). Each is adapted to this corpus' schema (no
partsupp / p_container / l_receiptdate columns): Q17 keys the
correlated average on p_brand alone, Q21 defines "late" as shipping
more than 60 days after the order date, Q9/Q20 proxy supply data from
retail price / shipped quantity — the OPTIMIZER shapes (decorrelation,
aggregate-then-join instead of EXISTS chains, LIKE-filtered dimension
pushdown, pushdown-friendly disjunction envelopes) are what these pin,
not the exact TPC-H constants.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring): money math runs in DECIMAL end-to-end and the
only float operations are the final mirrored round() expressions;
threshold comparisons are cross-multiplied so no division ever feeds a
predicate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q229: TPC-H Q17 shape — small-quantity-order revenue (correlated scalar avg)
# ---------------------------------------------------------------------------


@query(
    "q229_small_quantity_revenue",
    oracle="""
WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
a AS (SELECT l_partkey,
             sum(CAST(l_quantity AS DECIMAL(18,4))) AS qsum,
             CAST(count(*) AS BIGINT) AS qcnt
      FROM lineitem GROUP BY l_partkey)
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN p ON p.p_partkey = l.l_partkey
JOIN a ON a.l_partkey = l.l_partkey
WHERE 5 * CAST(l.l_quantity AS DECIMAL(18,4)) * a.qcnt < a.qsum
""",
    doc="TPC-H Q17 (small-quantity-order revenue): the yearly revenue "
    "lost if orders below 20% of a part's average quantity stopped "
    "shipping — the classic CORRELATED SCALAR AVERAGE per part, spelled "
    "as its decorrelated form: one per-part grouped aggregate joined "
    "back to lineitem, never a per-row subquery. Determinism: the 20% "
    "threshold is cross-multiplied (5·qty·cnt < Σqty) over exact DECIMAL "
    "sums, so no float division feeds the predicate; the revenue sum is "
    "DECIMAL with one final mirrored round. Scale: the fact is first "
    "pruned to the brand's parts by a semi-join (only those parts' "
    "averages are ever consulted, so the grouped aggregate runs on the "
    "brand slice, not all of lineitem — the q234 pattern) and AQE sizes "
    "the joins — no forced broadcasts, no windows.",
)
def q229(spark, sf_dir):
    # Deliberately NO under-split fan-out on the fact (r14): semi-join
    # probe + one decimal sum per row is cheaper than shuffling the raw
    # rows — measured 0.80 s without vs 1.04 s with on the ×10
    # single-file ladder replica (interleaved quiet-box A/B). See q203's
    # note for why q01's crossover does not transfer.
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select(
        F.col("p_partkey").alias("l_partkey")
    )
    # Only Brand#4 parts' averages are consulted after the join-back, so
    # prune the fact FIRST — the per-part aggregate then reduces the
    # brand slice, not the whole table (byte-identical result).
    lib = li.join(p, "l_partkey", "left_semi")
    qd = F.col("l_quantity").cast("decimal(18,4)")
    a = lib.groupBy("l_partkey").agg(
        F.sum(qd).alias("qsum"), F.count("*").cast("bigint").alias("qcnt")
    )
    j = lib.join(a, "l_partkey").filter(5 * qd * F.col("qcnt") < F.col("qsum"))
    return j.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# q230: TPC-H Q21 shape — suppliers who kept orders waiting
# ---------------------------------------------------------------------------


@query(
    "q230_waiting_suppliers",
    oracle="""
WITH f AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey, l.l_suppkey),
per_o AS (
  SELECT l_orderkey,
         count(*) AS n_supp,
         sum(late) AS n_late
  FROM f GROUP BY l_orderkey)
SELECT s.s_name,
       CAST(count(*) AS BIGINT) AS numwait
FROM f
JOIN per_o p ON p.l_orderkey = f.l_orderkey
JOIN supplier s ON s.s_suppkey = f.l_suppkey
WHERE f.late = 1 AND p.n_supp >= 2 AND p.n_late = 1
GROUP BY s.s_name
""",
    doc="TPC-H Q21 (suppliers who kept orders waiting): for finalized "
    "orders, count per supplier the multi-supplier orders where THAT "
    "supplier was the only late one (late = shipped more than 60 days "
    "after the order date — the l_receiptdate/l_commitdate analog this "
    "schema supports). The interesting plan: the EXISTS (another "
    "supplier) / NOT EXISTS (another late supplier) pair over lineitem "
    "self-joins is spelled as ONE per-(order, supplier) aggregate plus "
    "one per-order aggregate — three scans and two EXISTS probes of "
    "lineitem become a single grouping pipeline, the "
    "aggregate-then-join decorrelation. Determinism: counts only, "
    "exact; the late flag is pure timestamp arithmetic. Scale: both "
    "aggregates ride the same l_orderkey shuffle; no windows, no "
    "broadcast hints (supplier joins under AQE).",
)
def q230(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    f = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    per_o = f.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    waits = (
        f.filter(F.col("late") == 1)
        .join(per_o, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        waits.join(s, waits["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q231: TPC-H Q9 shape — product-line profit by nation and year
# ---------------------------------------------------------------------------


@query(
    "q231_product_profit",
    oracle="""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l.l_discount AS DECIMAL(18,4))
                      - CAST(0.6 AS DECIMAL(18,4))
                        * CAST(p.p_retailprice AS DECIMAL(18,4))
                        * CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE),
             2) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
    doc="TPC-H Q9 (product-line profit): profit by supplier nation and "
    "order year over the parts whose name matches a product line — the "
    "classic 5-way join rollup (this schema has no partsupp, so the "
    "supply cost is a fixed retail-price fraction; the LIKE-filtered "
    "dimension, the multi-way join ordering, and the two-level group "
    "key are the shapes under test). Determinism: the profit term is "
    "DECIMAL end-to-end (price × (1−discount) − 0.6 × retail × qty), "
    "summed exactly, one mirrored final round; the year is exact "
    "integer extraction. Scale: the LIKE filter prunes part before any "
    "join; nation carries an explicit constant-cardinality broadcast "
    "hint (25 rows at every SF, the q203 convention); the fact joins "
    "shuffle on their keys with AQE sizing — no windows, no hints on "
    "SF-scaled relations.",
)
def q231(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    dec = lambda c: c.cast("decimal(18,4)")  # noqa: E731
    amount = dec(F.col("l_extendedprice")) * dec(1 - F.col("l_discount")) - dec(
        F.lit(0.6)
    ) * dec(F.col("p_retailprice")) * dec(F.col("l_quantity"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q232: TPC-H Q15 shape — top supplier by quarterly revenue (max join-back)
# ---------------------------------------------------------------------------


@query(
    "q232_top_supplier_revenue",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * CAST(1 - l_discount AS DECIMAL(18,4))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey),
mx AS (SELECT max(r) AS mr FROM rev)
SELECT s.s_suppkey, s.s_name,
       round(CAST(rev.r AS DOUBLE), 2) AS total_revenue
FROM rev JOIN mx ON rev.r = mx.mr
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
""",
    doc="TPC-H Q15 (top supplier): the revenue-view + scalar-max "
    "join-back — the aggregate is computed once and its maximum joined "
    "back by EQUALITY (ties all surface, exactly the view semantics), "
    "never a global sort or LIMIT 1 that would drop ties. Determinism: "
    "revenue is an exact DECIMAL sum, so the max-equality join is exact "
    "(a float revenue would make r = max(r) partition-order-dependent); "
    "one mirrored final round. Scale: the quarter filter pushes to the "
    "lineitem scan; the per-supplier aggregate reduces map-side; the "
    "1-row max joins back by equi-key (broadcast under AQE, no "
    "nested-loop cross).",
)
def q232(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (1 - F.col("l_discount")).cast("decimal(18,4)")
            ).alias("r")
        )
    )
    mx = rev.agg(F.max("r").alias("mr"))
    return (
        rev.join(mx, rev["r"] == mx["mr"])
        .join(s, rev["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("r").cast("double"), 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q233: TPC-H Q19 shape — disjunctive brand/size/quantity revenue
# ---------------------------------------------------------------------------


@query(
    "q233_disjunctive_revenue",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE),
             2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN ('Brand#4', 'Brand#2')
  AND p.p_size BETWEEN 1 AND 30
  AND l.l_quantity BETWEEN 1 AND 40
  AND ((p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
        AND l.l_quantity BETWEEN 1 AND 20)
    OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        AND l.l_quantity BETWEEN 10 AND 40))
""",
    doc="TPC-H Q19 (disjunctive revenue): an OR of brand/size/quantity "
    "conjunctions that straddles the join — the classic shape where a "
    "naive plan evaluates the whole disjunction per joined pair with "
    "nothing pushed down. The spelling applies Q19's standard implied-"
    "predicate derivation: the UNION bounds of each disjunct (brand IN, "
    "size/quantity envelope ranges) are stated as plain conjuncts, so "
    "they push to the part and lineitem SCANS and the join's build side "
    "shrinks to the brand slice before the residual OR runs per match. "
    "Determinism: DECIMAL revenue sum, exact count, one mirrored round. "
    "Scale: pushed scan filters + an equi-join on partkey; the residual "
    "evaluates only on brand-sliced matches.",
)
def q233(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 40))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#4", "Brand#2") & F.col("p_size").between(1, 30)
    )
    disj = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).filter(disj)
    return j.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (1 - F.col("l_discount")).cast("decimal(18,4)")
            ).cast("double"),
            2,
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q234: TPC-H Q20 shape — dominant suppliers of a product line
# ---------------------------------------------------------------------------


@query(
    "q234_dominant_part_suppliers",
    oracle="""
WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
tot AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS t
  FROM lineitem JOIN rp ON rp.p_partkey = l_partkey
  GROUP BY l_partkey),
sp AS (
  SELECT l_suppkey, l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS q
  FROM lineitem JOIN rp ON rp.p_partkey = l_partkey
  GROUP BY l_suppkey, l_partkey),
dom AS (
  SELECT sp.l_suppkey, CAST(count(*) AS BIGINT) AS n_parts
  FROM sp JOIN tot ON tot.l_partkey = sp.l_partkey
  WHERE 20 * sp.q > 3 * tot.t
  GROUP BY sp.l_suppkey)
SELECT s.s_name, d.n_parts
FROM dom d JOIN supplier s ON s.s_suppkey = d.l_suppkey
""",
    doc="TPC-H Q20 (dominant product-line suppliers, this schema's "
    "partsupp-free analog): suppliers shipping more than 15% of a "
    "LIKE-filtered part's total quantity, counted per supplier — the "
    "double-nested subquery (partkey IN (LIKE filter) + a correlated "
    "per-(supplier, part) quantity threshold) spelled as its "
    "decorrelated form: TWO grouped aggregates of the same filtered "
    "fact at different grains joined on the part key, then a dimension "
    "join-back. Determinism: quantity sums are exact DECIMALs and the "
    "15% threshold is cross-multiplied (20·q > 3·t) so no float "
    "division feeds the predicate. Scale: the LIKE prunes part before "
    "anything joins; both aggregates ride one l_partkey-clustered "
    "shuffle; no windows, no hints.",
)
def q234(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rp = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    s = load_table(spark, sf_dir, "supplier")
    red = li.join(rp, li["l_partkey"] == rp["p_partkey"]).select(
        "l_suppkey", "l_partkey", F.col("l_quantity").cast("decimal(18,4)").alias("q0")
    )
    tot = red.groupBy("l_partkey").agg(F.sum("q0").alias("t"))
    sp = red.groupBy("l_suppkey", "l_partkey").agg(F.sum("q0").alias("q"))
    dom = (
        sp.join(tot, "l_partkey")
        .filter(20 * F.col("q") > 3 * F.col("t"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
    )
    return dom.join(s, dom["l_suppkey"] == s["s_suppkey"]).select("s_name", "n_parts")


# ---------------------------------------------------------------------------
# q235: TPC-H Q8 shape — national market share within a region
# ---------------------------------------------------------------------------


@query(
    "q235_market_share",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         sn.n_name AS supp_nation,
         CAST(l.l_extendedprice AS DECIMAL(18,4))
           * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA')
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                           THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM rev GROUP BY o_year
""",
    doc="TPC-H Q8 (national market share): of everything sold to ASIA "
    "customers, the yearly revenue share supplied from one nation — the "
    "classic 7-relation join with nation under TWO roles (customer side "
    "filters the region, supplier side labels the share) and the "
    "conditional-aggregate share instead of a self-join. Determinism: "
    "volume stays DECIMAL through both sums; the share is one mirrored "
    "double division, rounded. Scale: both nation roles and the region "
    "filter carry explicit constant-cardinality broadcast hints (25/5 "
    "rows at every SF, the q203 convention); the fact joins shuffle on "
    "their keys; share-of-total needs no second pass — numerator and "
    "denominator ride the SAME grouped aggregate.",
)
def q235(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    asia = r.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,4)")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(asia), F.col("cn_region") == F.col("r_regionkey"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            "supp_nation",
            volume.alias("volume"),
        )
    )
    return rev.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q236: TPC-H Q14 shape — promo revenue share per month
# ---------------------------------------------------------------------------


@query(
    "q236_promo_revenue_share",
    oracle="""
SELECT substring(CAST(l.l_shipdate AS VARCHAR), 1, 7) AS ship_month,
       round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l.l_discount AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE),
             6) AS promo_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY ship_month
""",
    doc="TPC-H Q14 (promotion effect): the share of revenue carried by "
    "PROMO-type parts, per ship month of one year — the conditional-"
    "aggregate percentage (CASE inside sum) that needs no self-join and "
    "no second pass. Determinism: both sums are DECIMAL over the same "
    "rows; the month key is a string prefix (identical rendering both "
    "engines); one mirrored double division. Scale: the date filter "
    "pushes to the lineitem scan; one equi-join on partkey; numerator "
    "and denominator ride one grouped aggregate.",
)
def q236(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice").cast("decimal(18,4)") * (
        1 - F.col("l_discount")
    ).cast("decimal(18,4)")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    return j.groupBy(
        F.substring(F.col("l_shipdate").cast("string"), 1, 7).alias("ship_month")
    ).agg(
        F.round(
            100.0
            * F.sum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double")
            / F.sum(vol).cast("double"),
            6,
        ).alias("promo_share")
    )


# ---------------------------------------------------------------------------
# q237: TPC-H Q16 shape — supplier diversity per part category, with exclusion
# ---------------------------------------------------------------------------


@query(
    "q237_part_supplier_diversity",
    oracle="""
WITH excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500),
sp AS (
  SELECT DISTINCT p.p_brand, p.p_type, l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_size BETWEEN 1 AND 25
    AND l.l_suppkey NOT IN (SELECT s_suppkey FROM excl))
SELECT p_brand, p_type,
       CAST(count(*) AS BIGINT) AS supplier_cnt
FROM sp GROUP BY p_brand, p_type
""",
    doc="TPC-H Q16 (supplier diversity): how many DISTINCT suppliers "
    "ship each (brand, type) category, excluding a denylist (suppliers "
    "below an account-balance floor — this schema's analog of Q16's "
    "complaint-comment filter) — the NOT IN exclusion spelled as an "
    "ANTI-JOIN against the small denylist plus a distinct-then-count "
    "two-phase aggregate (the count-distinct rides the grouping "
    "shuffle, never a per-group set in one task). Determinism: pure "
    "integer counts over exact string keys. Scale: the size filter "
    "pushes to the part scan; the denylist anti-join broadcasts under "
    "AQE; DISTINCT reduces map-side before the final count.",
)
def q237(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").between(1, 25)).select(
        "p_partkey", "p_brand", "p_type"
    )
    excl = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 1500).select(
        "s_suppkey"
    )
    sp = (
        li.join(excl, li["l_suppkey"] == excl["s_suppkey"], "left_anti")
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select("p_brand", "p_type", "l_suppkey")
        .distinct()
    )
    return sp.groupBy("p_brand", "p_type").agg(
        F.count("*").cast("bigint").alias("supplier_cnt")
    )
