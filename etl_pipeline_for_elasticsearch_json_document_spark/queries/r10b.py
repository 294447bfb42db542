"""Round-10 second-half registrations: the four TPC-H queries that
complete the literal 1-22 canon on this corpus' schema — Q4 (order
priority checking: EXISTS with a cross-side date predicate), Q6
(forecast revenue change: the zero-join full-pushdown scan), Q10
(returned-item reporting: fact rollup + dims + deterministic top-20),
and Q12 (shipping-mode lateness matrix, keyed on l_returnflag since
this schema carries no l_shipmode/l_commitdate — the conditional
two-way count shape is what Q12 pins, not the column).

With these, every TPC-H query 1-22 has a registered shape: Q1=q01,
Q2=q211, Q3=q03, Q4=q238, Q5=q203, Q6=q239, Q7=q220, Q8=q235, Q9=q231,
Q10=q240, Q11=q212, Q12=q241, Q13=q213, Q14=q236, Q15=q232, Q16=q237,
Q17=q229, Q18=q204, Q19=q233, Q20=q234, Q21=q230, Q22=q214.

Plus two LLM-pipeline planning/audit compositions: q242 turns tempered
per-source weights and a global token budget into the epochs-per-source
allocation table (the data-constrained-scaling decision q171's weights
feed), and q243 prices a decontamination pass's REAL removal bill by
expanding the 5-gram hit set to its full near-dup clusters
(dedup.contaminated_train_ids x graph.dedup_clusters).

Determinism follows registry.py's rules: money math in DECIMAL
end-to-end, float only in final mirrored round() projections; top-k
orders by the EXACT decimal measure with a unique-key tiebreak before
any rounding.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q238: TPC-H Q4 — order priority checking (EXISTS with cross-side predicate)
# ---------------------------------------------------------------------------


@query(
    "q238_order_priority_check",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
GROUP BY o.o_orderpriority
""",
    doc="TPC-H Q4 (order priority checking): per priority, the count of "
    "one quarter's orders having at least one line shipped more than 45 "
    "days after the order date (the l_commitdate < l_receiptdate analog "
    "this schema supports) — the EXISTS whose correlated predicate "
    "references BOTH sides (l_shipdate vs o_orderdate), so it cannot "
    "fold into a pre-aggregated key set and must become a LEFT SEMI "
    "join with a composite condition. q28 pins the plain keyed EXISTS; "
    "this pins the cross-side-predicate variant. Determinism: pure "
    "integer counts and exact timestamp arithmetic. Scale: the quarter "
    "filter pushes to the orders scan BEFORE the semi-join (the probe "
    "side is a sliver); the semi-join shuffles on l_orderkey and "
    "short-circuits per key — no dedup pass, no window.",
)
def q238(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sj = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 45 DAYS")),
        "left_semi",
    )
    return sj.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


# ---------------------------------------------------------------------------
# q239: TPC-H Q6 — forecast revenue change (zero-join full-pushdown scan)
# ---------------------------------------------------------------------------


@query(
    "q239_forecast_revenue",
    oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(l_discount AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 (forecast revenue change): the revenue delta if "
    "mid-range discounts were eliminated — sum(price x discount) under "
    "a date window, a discount band, and a quantity cap. The plan IS "
    "the point: zero joins, every predicate pushed into the parquet "
    "scan (tests/test_plans.py pins PushedFilters for all three "
    "columns), one map-side partial aggregate, a 1-row result — the "
    "canonical full-pushdown scan every column-pruning/filter-pushdown "
    "regression would break first. Determinism: the band compares "
    "DOUBLES (identical IEEE literals both engines); the product runs "
    "in DECIMAL (discount cast to decimal(4,2) — exact at its 2-digit "
    "domain), one final mirrored round. Scale: map-only until the "
    "1-row final aggregate; no shuffle of data, only of partials.",
)
def q239(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        # Deliberately NO under-split fan-out here (r14): the pushed-down
        # filter keeps ~3% of rows, so the dominant cost is the
        # scan+filter itself, which runs BELOW any post-scan exchange and
        # stays serialized regardless — measured 0.52 s without vs 0.61 s
        # with at the ×10 ladder rung (interleaved quiet-box A/B).
        .agg(
            # Round the exact decimal sum BEFORE the double cast (the
            # mirrored-round rule for .xx5-boundary safety, see q240).
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q240: TPC-H Q10 — returned-item reporting (rollup + dims + top-20)
# ---------------------------------------------------------------------------


@query(
    "q240_returned_items",
    oracle="""
WITH rev AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-04-01'
    AND l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name)
SELECT c_custkey, c_name, n_name,
       round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
       CAST(round(rev, 2) AS DOUBLE) AS revenue
FROM rev
ORDER BY rev DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 (returned-item reporting): the 20 customers who "
    "returned the most revenue in one quarter, with their nation and "
    "balance — the fact-rollup-then-top-k report (group the filtered "
    "fact by customer, join the small attribute dims, take a bounded "
    "head). Determinism: revenue is an exact DECIMAL sum, the top-20 "
    "orders by that EXACT value with the c_custkey tiebreak BEFORE any "
    "rounding, so the cut line is reproducible; rounding happens only "
    "in the final projection, mirrored. Scale: both scan filters push "
    "down (quarter to orders, returnflag to lineitem) so the joins see "
    "slivers; the per-customer aggregate partial-reduces map-side; the "
    "top-20 is TakeOrderedAndProject (per-partition heads + one 20-row "
    "merge, pinned in tests/test_plans.py), never a global sort; "
    "nation is a constant-cardinality broadcast.",
)
def q240(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(n, n["n_nationkey"] == c["c_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("rev")
        )
    )
    top = rev.orderBy(F.col("rev").desc(), F.col("c_custkey")).limit(20)
    return top.select(
        "c_custkey",
        "c_name",
        "n_name",
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
        # Round the EXACT decimal first, THEN cast: rounding after a
        # double cast diverges cross-engine when the decimal sits on a
        # .xx5 boundary (Spark rounds the shortest-repr string, DuckDB
        # the binary value).
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q241: TPC-H Q12 shape — lateness/priority matrix (conditional 2-way counts)
# ---------------------------------------------------------------------------


@query(
    "q241_priority_lateness_matrix",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_returnflag
""",
    doc="TPC-H Q12 shape (shipping lateness vs order priority): among "
    "one year's lines shipped more than 45 days after their order "
    "date, how many belong to critical-priority orders vs the rest, "
    "per line class — keyed on l_returnflag because this schema has no "
    "l_shipmode/l_commitdate; the SHAPE Q12 pins is the conditional "
    "two-way count (CASE inside sum, both columns riding ONE grouped "
    "aggregate — no self-join, no pivot pass) under a join-straddling "
    "lateness predicate. Determinism: pure integer counts, exact "
    "timestamp arithmetic. Scale: the year window pushes to the "
    "lineitem scan; orders prunes to 3 columns and joins on the key "
    "under AQE; the cross-side lateness predicate evaluates per match; "
    "output is a 3-row relation.",
)
def q241(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).filter(
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 45 DAYS")
    )
    return j.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# q242: data-constrained epoch/budget allocation plan (per-source)
# ---------------------------------------------------------------------------


@query(
    "q242_epoch_budget_plan",
    oracle="""
WITH per_source AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS supply_tokens,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
tot AS (SELECT sum(supply_tokens) AS t FROM per_source),
w AS (
  SELECT source, supply_tokens, n_docs,
         CAST(round(pow(supply_tokens / CAST(t AS DOUBLE), 0.5), 6)
              AS DECIMAL(18, 6)) AS wt
  FROM per_source, tot),
z AS (SELECT sum(wt) AS z FROM w)
SELECT source, supply_tokens, n_docs,
       round(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE), 6) AS weight,
       round(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE) * 2000000.0, 2)
         AS requested_tokens,
       round(least(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE) * 2000000.0,
                   4.0 * supply_tokens), 2) AS achievable_tokens,
       round(least(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE) * 2000000.0,
                   4.0 * supply_tokens) / supply_tokens, 4) AS epochs,
       round(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE) * 2000000.0
             - least(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE) * 2000000.0,
                     4.0 * supply_tokens), 2) AS deficit_tokens
FROM w, z
""",
    doc="Data-constrained training allocation (the epochs-per-source "
    "planning table): given a global token budget (2M literal) and "
    "tempered target weights (sqrt-share, q171's recipe on the source "
    "axis), each source's requested tokens, the achievable tokens under "
    "a 4-epoch repetition cap (repeating data beyond ~4 epochs stops "
    "helping, so the cap is the planning constant), the implied epoch "
    "count, and the unfillable deficit the curator must re-spread or cut "
    "from the budget. q171 ends at WEIGHTS; this turns weights + supply "
    "into the allocation decision. Determinism: pow terms round to 6 dp "
    "THEN sum as DECIMAL(18,6) (exact, order-independent); every output "
    "is a single float expression of those exact quantities, mirrored. "
    "Scale: one corpus pass reduces to the |sources|-row relation; the "
    "1-row total and normalizer broadcast onto it (the sanctioned "
    "broadcast-scalar shape) — text never shuffles.",
)
def q242(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(text_ops.token_count(F.col("text"))).cast("bigint").alias(
            "supply_tokens"
        ),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    tot = per_source.agg(F.sum("supply_tokens").alias("t"))
    w = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "supply_tokens",
        "n_docs",
        F.round(
            F.pow(F.col("supply_tokens") / F.col("t").cast("double"), F.lit(0.5)), 6
        )
        .cast("decimal(18,6)")
        .alias("wt"),
    )
    z = w.agg(F.sum("wt").alias("z"))
    ww = F.col("wt").cast("double") / F.col("z").cast("double")
    requested = ww * F.lit(2000000.0)
    achievable = F.least(requested, F.lit(4.0) * F.col("supply_tokens"))
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "supply_tokens",
        "n_docs",
        F.round(ww, 6).alias("weight"),
        F.round(requested, 2).alias("requested_tokens"),
        F.round(achievable, 2).alias("achievable_tokens"),
        F.round(achievable / F.col("supply_tokens"), 4).alias("epochs"),
        F.round(requested - achievable, 2).alias("deficit_tokens"),
    )


# ---------------------------------------------------------------------------
# q243: contamination blast radius (decontamination x near-dup closure)
# ---------------------------------------------------------------------------


@query(
    "q243_contamination_cascade",
    oracle="""
WITH RECURSIVE
tr AS (SELECT doc_id, source FROM documents WHERE doc_id % 10 <> 0),
toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                      || ws[i+3] || ' ' || ws[i+4]))) AS g
      FROM toks),
hits AS (SELECT DISTINCT t.doc_id
         FROM g t JOIN g s ON s.g = t.g AND s.doc_id % 10 = 0
         WHERE t.doc_id % 10 <> 0),
words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents WHERE doc_id % 10 <> 0),
sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
pairs AS (SELECT a_id, b_id FROM inter
          JOIN sizes sa ON sa.doc_id = a_id
          JOIN sizes sb ON sb.doc_id = b_id
          WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8),
edges AS (SELECT a_id AS u, b_id AS v FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
reach(id, lbl) AS (
    SELECT doc_id, doc_id FROM tr
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v),
clusters AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
bad AS (SELECT DISTINCT c.cluster_id FROM clusters c JOIN hits h ON h.doc_id = c.id),
cascade AS (SELECT c.id AS doc_id FROM clusters c
            JOIN bad b ON b.cluster_id = c.cluster_id)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_direct,
       CAST(sum(CASE WHEN cs.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cascade,
       CAST(sum(CASE WHEN cs.doc_id IS NOT NULL AND h.doc_id IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
       round(sum(CASE WHEN cs.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS removed_share
FROM tr t
LEFT JOIN hits h ON h.doc_id = t.doc_id
LEFT JOIN cascade cs ON cs.doc_id = t.doc_id
GROUP BY t.source
""",
    doc="Contamination blast radius: benchmark-contaminated train docs "
    "(q100's 5-gram hit set, train side) EXPANDED to their full near-dup "
    "clusters (q128's Jaccard>=0.8 closure over the train corpus) — the "
    "real removal bill of a decontamination pass, because dropping a "
    "leaked doc while keeping its near-duplicates removes nothing. Per "
    "source: train size, direct hits, cascade size (hits + their cluster "
    "mates), the extra docs dedup-awareness adds, and the removed share. "
    "Composes three first-class operators (dedup.contaminated_train_ids, "
    "dedup.prefix_filter_jaccard_pairs — the PPJoin exact join, not the "
    "naive postings self-join — and graph.dedup_clusters) rather than "
    "re-deriving any. Determinism: "
    "integer counts; one final mirrored rounded division. Scale: the "
    "test-side gram postings broadcast (benchmark-suite-bounded, the "
    "q100 posture); the hit and bad-cluster sets are match-bounded but "
    "NOT constant-bounded, so their joins carry no hints — AQE "
    "broadcasts them while they fit and degrades to shuffle instead of "
    "OOM; the closure is the pointer-jumped min-label propagation "
    "already proven on the dedup path; text reduces to postings before "
    "any shuffle.",
)
def q243(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 10 != 0)
    test = d.filter(F.col("doc_id") % 10 == 0)
    direct = dedup.contaminated_train_ids(train, test, "doc_id", "text", n=5).select(
        F.col("train_id").alias("doc_id")
    )
    # Prefix-filtered exact join (q141's PPJoin), NOT the naive postings
    # self-join: identical output (equality pinned in tests/test_llm_ops),
    # but stopword postings never enter the candidate join.
    pairs = dedup.prefix_filter_jaccard_pairs(train, "doc_id", "text", threshold=0.8)
    clusters = graph.dedup_clusters(pairs, train, id_col="doc_id")
    # No explicit broadcast hints on the hit/cluster sets: they are
    # match-bounded, not constant-bounded — at 100 TB a heavily leaked
    # corpus could grow them past executor memory, so the join strategy
    # is left to AQE (broadcasts while they fit, degrades to shuffle
    # instead of OOM — the q203 rule).
    bad = (
        clusters.join(direct, "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    cascade = clusters.join(bad, "cluster_id", "left_semi").select("doc_id")
    meta = train.select("doc_id", "source")
    flagged = meta.join(
        direct.withColumn("is_direct", F.lit(1)), "doc_id", "left"
    ).join(cascade.withColumn("in_cascade", F.lit(1)), "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_train"),
        F.sum(F.coalesce(F.col("is_direct"), F.lit(0))).cast("bigint").alias(
            "n_direct"
        ),
        F.sum(F.coalesce(F.col("in_cascade"), F.lit(0))).cast("bigint").alias(
            "n_cascade"
        ),
        F.sum(
            F.when(
                F.col("in_cascade").isNotNull() & F.col("is_direct").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extra"),
        F.round(
            F.sum(F.coalesce(F.col("in_cascade"), F.lit(0)))
            / F.count("*").cast("double"),
            4,
        ).alias("removed_share"),
    )


# ---------------------------------------------------------------------------
# q244: trailing-7-day exact distinct users (WAU) via offset fan-out
# ---------------------------------------------------------------------------


@query(
    "q244_trailing_wau",
    oracle="""
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT d FROM du),
fan AS (SELECT du.d + CAST(t.o AS INTEGER) AS rd, du.user_id
        FROM du, range(7) t(o))
SELECT CAST(fan.rd AS VARCHAR) AS day,
       CAST(count(DISTINCT fan.user_id) AS BIGINT) AS wau
FROM fan JOIN days ON days.d = fan.rd
GROUP BY fan.rd
""",
    doc="Trailing-7-day exact distinct users per day (the WAU curve) — "
    "the sliding-window COUNT DISTINCT that neither a RANGE-frame window "
    "(distinct is not frame-mergeable) nor per-day rescans can spell "
    "scalably. The scalable form: events first collapse to the DISTINCT "
    "(day, user) activity relation, each activity row fans out to the 7 "
    "report days it supports (day..day+6, a 7-row broadcast join), and "
    "one distinct-aggregate per report day finishes it — restricted to "
    "observed calendar days so no phantom trailing days appear. "
    "Determinism: exact integer/date arithmetic only. Scale: the "
    "fan-out runs on the (active-day x user) relation — already "
    "corpus-reduced by the first DISTINCT's partial aggregation — never "
    "on raw events; x7 is a constant; the final distinct-agg shuffles "
    "on the bounded day key with the user set spread across partial "
    "aggregates. No window, no per-day self-joins.",
)
def q244(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = du.select("d").distinct().withColumnRenamed("d", "rd")
    offsets = spark.range(7).select(F.col("id").cast("int").alias("o"))
    fan = du.crossJoin(F.broadcast(offsets)).select(
        F.date_add(F.col("d"), F.col("o")).alias("rd"), "user_id"
    )
    return (
        fan.join(days, "rd")
        .groupBy("rd")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
        .select(F.col("rd").cast("string").alias("day"), "wau")
    )


# ---------------------------------------------------------------------------
# q245: Zipf slope per language (binned midrank fit over the count domain)
# ---------------------------------------------------------------------------


@query(
    "q245_zipf_slope",
    oracle="""
WITH wc AS (
  SELECT lang, w, count(*) AS c
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY lang, w),
dist AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS k FROM wc GROUP BY lang, c),
r AS (SELECT lang, c, k,
             coalesce(sum(k) OVER (PARTITION BY lang ORDER BY c DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dist),
t AS (SELECT lang, k,
             k * CAST(round(ln(cum + (k + 1) / 2.0), 6)
                      AS DECIMAL(18,6)) AS kx,
             k * CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS ky,
             k * CAST(round(ln(cum + (k + 1) / 2.0) * ln(c), 6)
                      AS DECIMAL(18,6)) AS kxy,
             k * CAST(round(ln(cum + (k + 1) / 2.0)
                              * ln(cum + (k + 1) / 2.0), 6)
                      AS DECIMAL(18,6)) AS kxx
      FROM r),
s AS (SELECT lang, CAST(sum(k) AS BIGINT) AS vocab,
             CAST(count(*) AS BIGINT) AS n_bins,
             sum(kx) AS sx, sum(ky) AS sy, sum(kxy) AS sxy, sum(kxx) AS sxx
      FROM t GROUP BY lang)
SELECT lang, vocab, n_bins,
       round((CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / vocab)
             / (CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / vocab),
             4) AS zipf_slope
FROM s WHERE n_bins >= 2
""",
    doc="Zipf slope per language: weighted OLS of log-frequency on "
    "log-midrank over the word frequency distribution — the classic "
    "corpus-health dial (natural text sits near -1; templated/spammy "
    "feeds flatten or steepen it). The scalable spelling NEVER ranks "
    "individual words: all words sharing a count c form one tie block, "
    "so the fit runs on the (lang, c, k) DISTINCT-COUNT relation with "
    "each block at its midrank (cum_above + (k+1)/2) and weight k — the "
    "same value-domain discipline as the q217/q222 rank rewrites, with "
    "the window over |distinct counts| (~sqrt of token mass) rows, not "
    "the vocabulary. Determinism: each block's TRANSCENDENTAL factor is "
    "rounded to 6 dp, multiplied by the EXACT integer weight k, and "
    "summed as DECIMAL (order-independent — the q171 recipe, with the "
    "k-multiplication kept exact so a 1-ulp cross-engine ln() "
    "difference is never amplified by a corpus-scaled hapax count); the "
    "slope is one mirrored float expression; languages with fewer than "
    "2 distinct counts are excluded (degenerate fit). Scale: word "
    "counts partial-aggregate "
    "map-side; dist is a double reduction of the vocabulary; text never "
    "shuffles.",
)
def q245(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        value_domain_rank_blocks,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
    wc = toks.groupBy("lang", "w").agg(F.count("*").alias("c"))
    # the extracted block operator (r11), descending: one row per
    # (lang, count) with k = words in the tie block and cum = words
    # strictly ABOVE it in frequency — identical to the hand-rolled
    # exclusive-preceding window (sum-inclusive-minus-own-k, no coalesce)
    r = value_domain_rank_blocks(
        wc, ["lang"], "c", descending=True, count_col="k", below_col="cum"
    )
    x = F.log(F.col("cum") + (F.col("k") + F.lit(1)) / F.lit(2.0))
    y = F.log(F.col("c"))
    # Round the TRANSCENDENTAL term alone to 6 dp, THEN multiply by the
    # exact integer k: rounding k*ln(...) instead would amplify a 1-ulp
    # cross-engine ln() difference by k (hapax blocks make k corpus-scaled,
    # so at 100 TB the product could cross a .xxxxxx5 boundary; the bare
    # log term never leaves the ~1e-16 neighborhood of its true value).
    t = r.select(
        "lang",
        "k",
        (F.col("k") * F.round(x, 6).cast("decimal(18,6)")).alias("kx"),
        (F.col("k") * F.round(y, 6).cast("decimal(18,6)")).alias("ky"),
        (F.col("k") * F.round(x * y, 6).cast("decimal(18,6)")).alias("kxy"),
        (F.col("k") * F.round(x * x, 6).cast("decimal(18,6)")).alias("kxx"),
    )
    s = t.groupBy("lang").agg(
        F.sum("k").cast("bigint").alias("vocab"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("kx").alias("sx"),
        F.sum("ky").alias("sy"),
        F.sum("kxy").alias("sxy"),
        F.sum("kxx").alias("sxx"),
    )
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    w = F.col("vocab")
    return s.filter(F.col("n_bins") >= 2).select(
        "lang",
        "vocab",
        "n_bins",
        F.round((sxy - sx * sy / w) / (sxx - sx * sx / w), 4).alias("zipf_slope"),
    )
