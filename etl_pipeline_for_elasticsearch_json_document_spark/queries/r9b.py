"""Round-9 second batch: supply-chain time-series shapes (order-vs-ship
backlog curve, shipping-delay distribution, repeat-purchase cadence),
robust statistics (median/MAD outlier screen — the heavy-tail-safe twin
of z-scores), and two more curation signals (first-word template entropy,
cross-language mirror matrix).

Determinism follows registry.py: integer/DECIMAL aggregates, mirrored
single float expressions, pre-rounded DECIMAL-summed entropy terms,
unique-id window tiebreaks; percentiles rely on the quantile_cont ≡
percentile interpolation equivalence q09 pins.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q223: order-vs-ship backlog curve (two cumulative series aligned)
# ---------------------------------------------------------------------------


@query(
    "q223_backlog_curve",
    oracle="""
WITH ordered_q AS (
  SELECT CAST(o.o_orderdate AS DATE) AS day,
         sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS q_in
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1),
shipped_q AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS q_out
  FROM lineitem GROUP BY 1),
m AS (
  SELECT strftime(coalesce(o.day, s.day), '%Y-%m') AS month,
         sum(coalesce(o.q_in, 0)) AS q_in,
         sum(coalesce(s.q_out, 0)) AS q_out
  FROM ordered_q o FULL JOIN shipped_q s ON s.day = o.day
  GROUP BY 1)
SELECT month,
       CAST(q_in AS DOUBLE) AS ordered_qty,
       CAST(q_out AS DOUBLE) AS shipped_qty,
       CAST(sum(q_in - q_out) OVER (ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS backlog
FROM m
""",
    doc="Order-book backlog curve: monthly ordered vs shipped quantity "
    "(two daily series full-outer-aligned, rolled to months) and the "
    "running backlog — the fulfillment-lag time series an operations "
    "dashboard tracks; a rising backlog line is the capacity alarm. "
    "Determinism: DECIMAL quantity sums throughout, the cumulative sum "
    "runs over DECIMAL month rows before one float cast. Scale: two "
    "fact-side daily partial aggs shrink everything to |days| rows "
    "before the join; the cumulative window runs over the |months| "
    "relation — single-partition by design and bounded by the calendar "
    "(decades ≈ hundreds of rows), the documented q174-class allowance.",
)
def q223(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ordered = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q_in"))
    )
    shipped = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q_out")
    )
    m = (
        ordered.join(shipped, "day", "full")
        .groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.coalesce("q_in", F.lit(0).cast("decimal(18,4)"))).alias("q_in"),
            F.sum(F.coalesce("q_out", F.lit(0).cast("decimal(18,4)"))).alias("q_out"),
        )
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return m.select(
        "month",
        F.col("q_in").cast("double").alias("ordered_qty"),
        F.col("q_out").cast("double").alias("shipped_qty"),
        F.sum(F.col("q_in") - F.col("q_out")).over(w).cast("double").alias("backlog"),
    )


# ---------------------------------------------------------------------------
# q224: shipping-delay distribution per priority
# ---------------------------------------------------------------------------


@query(
    "q224_shipping_delay_distribution",
    oracle="""
WITH d AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS delay
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
SELECT o_orderpriority,
       CAST(floor(delay / 7.0) AS BIGINT) AS delay_week,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(min(delay) AS BIGINT) AS min_days,
       CAST(max(delay) AS BIGINT) AS max_days
FROM d GROUP BY 1, 2
""",
    doc="Shipping-delay distribution: line-level order-to-ship lag in "
    "whole days, bucketed by week, per order priority — the SLA "
    "histogram that shows whether URGENT actually ships faster (in this "
    "synthetic book it does not, which is the audit's point). "
    "Determinism: day diffs are exact integer calendar arithmetic on "
    "DATE casts; week buckets use FLOOR division on both engines "
    "(DuckDB's integer // truncates toward zero, which splits the "
    "negative-delay lines differently — the synthetic book ships ~5% "
    "of lines before the order date); pure counts/extrema. "
    "Scale: one fact-fact equi-join (AQE-broadcastable orders side "
    "after column pruning to 3 columns) and a bounded "
    "(priority × weeks) output relation.",
)
def q224(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("delay"),
    )
    return d.groupBy(
        "o_orderpriority",
        F.floor(F.col("delay") / 7).cast("bigint").alias("delay_week"),
    ).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.min("delay").cast("bigint").alias("min_days"),
        F.max("delay").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# q225: repeat-purchase cadence per market segment
# ---------------------------------------------------------------------------


@query(
    "q225_repeat_purchase_interval",
    oracle="""
WITH g AS (
  SELECT c.c_mktsegment,
         date_diff('day',
           CAST(lag(o.o_orderdate) OVER (
             PARTITION BY o.o_custkey
             ORDER BY o.o_orderdate, o.o_orderkey) AS DATE),
           CAST(o.o_orderdate AS DATE)) AS gap
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
SELECT c_mktsegment,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       round(CAST(sum(gap) AS DOUBLE) / count(gap), 4) AS mean_days,
       CAST(min(gap) AS BIGINT) AS min_days,
       CAST(max(gap) AS BIGINT) AS max_days
FROM g WHERE gap IS NOT NULL GROUP BY 1
""",
    doc="Repeat-purchase cadence: per market segment, the mean/extrema of "
    "days between a customer's consecutive orders (lag window per "
    "customer, ordered by date with the orderkey tiebreak) — the "
    "reorder-cycle input to inventory planning and the churn-window "
    "baseline. Determinism: gaps are exact integer day diffs; the mean "
    "is one division of their integer sum. Scale: one window shuffle on "
    "customer, then a |segments|-row aggregate.",
)
def q225(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_mktsegment",
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    return g.groupBy("c_mktsegment").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.round(F.sum("gap").cast("double") / F.count("gap"), 4).alias("mean_days"),
        F.min("gap").cast("bigint").alias("min_days"),
        F.max("gap").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# q226: first-word template entropy per source
# ---------------------------------------------------------------------------


@query(
    "q226_first_word_entropy",
    oracle="""
WITH f AS (
  SELECT source, string_split(text, ' ')[1] AS w
  FROM documents),
c AS (SELECT source, w, count(*) AS n FROM f GROUP BY 1, 2),
t AS (SELECT source, sum(n) AS total, count(*) AS n_distinct
      FROM c GROUP BY 1)
SELECT c.source,
       CAST(t.n_distinct AS BIGINT) AS distinct_first_words,
       round(CAST(sum(CAST(round((CAST(n AS DOUBLE) / t.total)
                 * log2(CAST(t.total AS DOUBLE) / n), 6)
             AS DECIMAL(18,6))) AS DOUBLE), 6) AS entropy_bits,
       round(CAST(max(n) AS DOUBLE) / t.total, 6) AS top_share
FROM c JOIN t ON t.source = c.source
GROUP BY c.source, t.n_distinct, t.total
""",
    doc="Template-opening detector: per source, the Shannon entropy of "
    "the document FIRST-WORD distribution plus the top opener's share — "
    "generated/boilerplate feeds open the same way every time (entropy "
    "near 0, top share near 1), organic prose spreads over its "
    "stopwords; complements q196's exact 8-word prefix groups with a "
    "one-number dial per source. Determinism: counts are exact; each "
    "entropy term is rounded to 6 dp and summed as DECIMAL "
    "(order-independent), then rounded once — the q216 discipline. "
    "Scale: first words come from a map-only split-head projection "
    "(never the full token explode); everything after is "
    "|sources × openers| rows.",
)
def q226(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("source", F.split("text", " ").getItem(0).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    t = c.groupBy("source").agg(
        F.sum("n").alias("total"), F.count("*").alias("n_distinct")
    )
    term = F.round(
        (F.col("n").cast("double") / F.col("total"))
        * F.log2(F.col("total").cast("double") / F.col("n")),
        6,
    ).cast("decimal(18,6)")
    return (
        c.join(t, "source")
        .groupBy("source", "n_distinct", "total")
        .agg(
            F.round(F.sum(term).cast("double"), 6).alias("entropy_bits"),
            F.round(F.max("n").cast("double") / F.col("total"), 6).alias("top_share"),
        )
        .select(
            "source",
            F.col("n_distinct").cast("bigint").alias("distinct_first_words"),
            "entropy_bits",
            "top_share",
        )
    )


# ---------------------------------------------------------------------------
# q227: robust (median/MAD) balance outliers per nation
# ---------------------------------------------------------------------------


@query(
    "q227_balance_outliers_robust",
    oracle="""
WITH med AS (
  SELECT c_nationkey, quantile_cont(c_acctbal, 0.5) AS med
  FROM customer GROUP BY 1),
dev AS (
  SELECT c.c_nationkey, c.c_acctbal, m.med,
         abs(c.c_acctbal - m.med) AS ad
  FROM customer c JOIN med m ON m.c_nationkey = c.c_nationkey),
mad AS (
  SELECT c_nationkey, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY 1)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(max(d.med), 4) AS median_balance,
       round(max(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN 0.6745 * d.ad > 3.5 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d
JOIN mad m ON m.c_nationkey = d.c_nationkey
JOIN nation n ON n.n_nationkey = d.c_nationkey
GROUP BY n.n_name
""",
    doc="Robust outlier screen (median/MAD, the modified z-score): per "
    "nation, account balances more than 3.5 MAD-normalized deviations "
    "from the median — the heavy-tail-safe twin of mean/std z-scores "
    "(q126's shape), which a single whale balance can silently disarm. "
    "Determinism: medians interpolate identically in both engines "
    "(quantile_cont ≡ percentile, pinned by q09); the outlier test "
    "0.6745·|x−med| > 3.5·mad multiplies once on each side instead of "
    "dividing (no 0/0 when MAD is 0); counts are exact. Scale: the "
    "grouped EXACT percentile's aggregation buffer holds every group's "
    "values in memory — per-nation customer balances at 100x are a real "
    "buffer hazard, so at scale swap in approx_percentile (the repo "
    "convention q145/q175/q197 document; the oracle pins the exact "
    "form at test SF). The join-backs are 25-row broadcasts.",
)
def q227(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    med = c.groupBy("c_nationkey").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("med")
    )
    dev = c.join(F.broadcast(med), "c_nationkey").select(
        "c_nationkey",
        "med",
        F.abs(F.col("c_acctbal") - F.col("med")).alias("ad"),
    )
    mad = dev.groupBy("c_nationkey").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(F.max("med"), 4).alias("median_balance"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(0.6745 * F.col("ad") > 3.5 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# q228: cross-language mirror matrix
# ---------------------------------------------------------------------------


@query(
    "q228_crosslingual_mirror",
    oracle="""
WITH fp AS (
  SELECT DISTINCT md5(array_to_string(string_split(text, ' ')[1:8], ' '))
           AS f, lang
  FROM documents),
multi AS (
  SELECT f FROM fp GROUP BY f HAVING count(*) > 1)
SELECT a.lang AS lang_a, b.lang AS lang_b,
       CAST(count(*) AS BIGINT) AS n_shared_texts
FROM fp a
JOIN fp b ON b.f = a.f AND b.lang > a.lang
WHERE a.f IN (SELECT f FROM multi)
GROUP BY 1, 2
""",
    doc="Cross-language mirror matrix: 8-word document-PREFIX "
    "fingerprints (q196's template key) that appear under MORE THAN ONE "
    "language label, counted per language pair — catches mislabeled "
    "boilerplate and template farms emitting the same opening across "
    "language feeds, which per-language dedup passes (partitioned BY "
    "lang) can never see; the lang-axis twin of q195's source-pair "
    "matrix. Determinism: exact md5 set semantics over the joined "
    "prefix, integer counts, lexicographic pair ordering. Scale: texts "
    "reduce to DISTINCT (16-byte fp, lang) rows via a map-side "
    "prefix-head projection; the self-join runs on the multi-lang "
    "sliver only.",
)
def q228(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " ")).alias("f"),
        "lang",
    ).distinct()
    multi = fp.groupBy("f").agg(F.count("*").alias("nl")).filter(F.col("nl") > 1)
    base = fp.join(multi.select("f"), "f")
    a = base.select("f", F.col("lang").alias("lang_a"))
    b = base.select("f", F.col("lang").alias("lang_b"))
    return (
        a.join(b, "f")
        .filter(F.col("lang_b") > F.col("lang_a"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_texts"))
    )
