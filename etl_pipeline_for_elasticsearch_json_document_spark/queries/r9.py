"""Round-9 query registrations: the TPC-H shapes the board still lacked
— Q2's argmin-join-back (cheapest supplier per part), Q11's
global-scalar-threshold HAVING (value concentration), Q13's
left-join-zero distribution (orders per customer histogram), Q22's
scalar-avg + anti-join audit (idle rich customers), Q7's dim-pair year
split (nation trade volume) — plus a scalable BAND-JOIN matcher built on
the same neighbor-offset equi-key this round's q207 fix installed, and
an LLM-pipeline batch: readability scoring (Flesch on exact per-source
integer sums), fingerprint-bucket health (size entropy of the dedup
bucket distribution), Spearman rank agreement between two document
scorers, event inter-arrival burstiness, per-source lexical richness
(vocabulary/hapax/type-token), and a user-value Gini concentration
index per event type.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring): float outputs are single expressions over
exact integer/DECIMAL aggregates (mirrored token-for-token in the
oracle SQL so IEEE evaluation order matches), or DECIMAL sums of
pre-rounded 6-dp terms; ranking never ties on raw doubles — every
window orders by an exact value with a unique-id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q211: TPC-H Q2 shape — cheapest supplier per part (argmin join-back)
# ---------------------------------------------------------------------------


@query(
    "q211_cheapest_supplier",
    oracle="""
WITH ps AS (
  SELECT l.l_partkey AS pk, l.l_suppkey AS sk,
         round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE),
               6) AS unit_price
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2)
SELECT pk AS p_partkey, sk AS s_suppkey, unit_price
FROM ps
QUALIFY row_number() OVER (PARTITION BY pk ORDER BY unit_price, sk) = 1
""",
    doc="TPC-H Q2 shape (minimum-cost supplier): per part, the EUROPE "
    "supplier with the lowest observed unit price — the argmin-per-group "
    "join-back classic. The Spark side computes the argmin as ONE "
    "min(struct(price, suppkey)) partial aggregate (no window, no "
    "join-back pass): struct ordering gives the price minimum with the "
    "suppkey tiebreak in the same shuffle the grouping already pays. "
    "Determinism: unit price is one rounded division of exact DECIMAL "
    "sums; ties break on suppkey through the struct. Scale: one fact "
    "shuffle on (part, supplier); the region restriction prunes through "
    "broadcast dim joins before the aggregate.",
)
def q211(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    ps = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"),
                6,
            ).alias("unit_price")
        )
    )
    best = ps.groupBy("pk").agg(F.min(F.struct("unit_price", "sk")).alias("b"))
    return best.select(
        F.col("pk").alias("p_partkey"),
        F.col("b.sk").alias("s_suppkey"),
        F.col("b.unit_price").alias("unit_price"),
    )


# ---------------------------------------------------------------------------
# q212: TPC-H Q11 shape — value concentration vs a global scalar threshold
# ---------------------------------------------------------------------------


@query(
    "q212_part_value_concentration",
    oracle="""
WITH rev AS (
  SELECT l_partkey AS p_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS v
  FROM lineitem GROUP BY 1),
tot AS (SELECT sum(v) AS t, count(*) AS np FROM rev)
SELECT p_partkey, round(CAST(v AS DOUBLE), 2) AS value
FROM rev, tot
WHERE CAST(v AS DOUBLE) > 1.4 * CAST(t AS DOUBLE) / np
""",
    doc="TPC-H Q11 shape (important stock): parts whose revenue exceeds "
    "1.4× the MEAN part revenue — the HAVING-against-a-global-scalar "
    "pattern, where the threshold itself is a subquery over the same "
    "fact (mean-relative rather than Q11's share-of-total so the "
    "selectivity is scale-free: a fixed share threshold empties as the "
    "part count grows). Determinism: per-part revenue and the total are "
    "exact DECIMAL sums (the total re-aggregates the per-part relation, "
    "so it is the exact sum of the same values); the comparison and the "
    "output are single float expressions. Scale: one fact shuffle for "
    "the per-part agg; the 1-row total broadcasts back onto it (the "
    "sanctioned broadcast-scalar shape).",
)
def q212(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("v")
    )
    tot = F.broadcast(rev.agg(F.sum("v").alias("t"), F.count("*").alias("np")))
    return (
        rev.crossJoin(tot)
        .filter(
            F.col("v").cast("double")
            > 1.4 * F.col("t").cast("double") / F.col("np")
        )
        .select("p_partkey", F.round(F.col("v").cast("double"), 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# q213: TPC-H Q13 shape — orders-per-customer distribution incl. zeros
# ---------------------------------------------------------------------------


@query(
    "q213_order_count_distribution",
    oracle="""
WITH per AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per GROUP BY c_count
""",
    doc="TPC-H Q13 (customer distribution): how many customers placed "
    "exactly k orders, INCLUDING the zero-order customers a plain "
    "fact-side groupBy would silently drop — the left-join-then-"
    "re-aggregate histogram. count(o_orderkey) counts matched rows only "
    "(nulls excluded), so the outer join's null row yields the k=0 "
    "bucket. Determinism: pure integer counts. Scale: the classic "
    "re-aggregation — the second groupBy runs over |customers| rows "
    "already reduced by the first, and the distribution relation is "
    "|distinct k| rows.",
)
def q213(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count("*").cast("bigint").alias("custdist"))


# ---------------------------------------------------------------------------
# q214: TPC-H Q22 shape — above-average balances with no orders, per nation
# ---------------------------------------------------------------------------


@query(
    "q214_idle_customer_audit",
    oracle="""
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2)
         AS total_balance
FROM customer c, thr
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > thr.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
""",
    doc="TPC-H Q22 shape (global sales opportunity): customers with an "
    "above-average positive balance who never placed an URGENT order, "
    "rolled up per nation — the scalar-subquery threshold COMPOSED with "
    "an anti-join, the two subquery forms in one plan (the anti side is "
    "priority-filtered so the audit is non-vacuous on a dense order "
    "book where every customer has ordered SOMETHING). Determinism: the "
    "threshold is one float division of an exact DECIMAL sum; balances "
    "aggregate as DECIMAL. Scale: the threshold broadcasts (1 row), the "
    "anti-join streams customer against orders' keys (a semi-join "
    "build), nation rides as a broadcast dim.",
)
def q214(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    thr = F.broadcast(
        c.filter(F.col("c_acctbal") > 0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                / F.count("*")
            ).alias("avg_bal")
        )
    )
    return (
        c.crossJoin(thr)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_balance"),
        )
    )


# ---------------------------------------------------------------------------
# q215: readability scoring (Flesch on exact per-source integer sums)
# ---------------------------------------------------------------------------


@query(
    "q215_readability_scores",
    oracle="""
WITH d AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         greatest(length(text) - length(replace(text, '.', '')), 1) AS n_sents,
         len(regexp_extract_all(lower(text), '[aeiou]+')) AS n_syll
  FROM documents),
s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             sum(n_words) AS sw, sum(n_sents) AS ss, sum(n_syll) AS sv
      FROM d GROUP BY source)
SELECT source, n_docs,
       round(CAST(sw AS DOUBLE) / ss, 6) AS words_per_sentence,
       round(CAST(sv AS DOUBLE) / sw, 6) AS syllables_per_word,
       round(206.835 - 1.015 * (CAST(sw AS DOUBLE) / ss)
                     - 84.6 * (CAST(sv AS DOUBLE) / sw), 4) AS flesch
FROM s
""",
    doc="Readability audit (Flesch reading-ease, vowel-group syllable "
    "proxy): per source, words/sentence, syllables/word, and the Flesch "
    "score — the classic curation signal for grade-level filtering of "
    "training text. Determinism: the per-doc counts are exact integers "
    "(word splits, period counts clamped to >=1, vowel-group regex "
    "matches); sources aggregate INTEGER SUMS and the floats are single "
    "mirrored expressions over those sums — per-doc float scores are "
    "never averaged. Scale: one map-side projection per doc (regex + "
    "splits, no shuffle of text), then a |sources|-row aggregate.",
)
def q215(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "source",
        F.size(F.split("text", " ")).alias("n_words"),
        F.greatest(
            F.length("text") - F.length(F.regexp_replace("text", "\\.", "")),
            F.lit(1),
        ).alias("n_sents"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiou]+"), 0)).alias(
            "n_syll"
        ),
    )
    s = per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").alias("sw"),
        F.sum("n_sents").alias("ss"),
        F.sum("n_syll").alias("sv"),
    )
    wps = F.col("sw").cast("double") / F.col("ss")
    spw = F.col("sv").cast("double") / F.col("sw")
    return s.select(
        "source",
        "n_docs",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# q216: dedup fingerprint-bucket health (size entropy per language)
# ---------------------------------------------------------------------------


@query(
    "q216_fingerprint_bucket_health",
    oracle="""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 3),
g AS (SELECT DISTINCT lang, doc_id, array_to_string(ws[i:i+2], ' ') AS s
      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
b AS (SELECT lang, s, count(*) AS sz FROM g GROUP BY 1, 2),
n AS (SELECT lang, sum(sz) AS total, count(*) AS n_buckets,
             max(sz) AS max_size FROM b GROUP BY 1)
SELECT b.lang,
       CAST(n.n_buckets AS BIGINT) AS n_buckets,
       CAST(n.max_size AS BIGINT) AS max_size,
       round(CAST(n.max_size AS DOUBLE) / n.total, 6) AS top_share,
       round(CAST(sum(CAST(round((CAST(sz AS DOUBLE) / n.total)
                 * log2(CAST(n.total AS DOUBLE) / sz), 6)
             AS DECIMAL(18,6))) AS DOUBLE), 6) AS size_entropy_bits
FROM b JOIN n ON n.lang = b.lang
GROUP BY b.lang, n.n_buckets, n.max_size, n.total
""",
    doc="Near-dup blocking health: per language, the word-3-gram "
    "fingerprint buckets' count, largest bucket, its posting share, and "
    "the Shannon entropy (bits) of the bucket-size distribution — low "
    "entropy + a fat top bucket means boilerplate grams dominate and the "
    "LSH-band candidate generator (q32/q103) will hot-spot exactly "
    "there; this is the measurement that schedules df-pruning before it "
    "melts a shuffle (the q163 key-skew audit, specialized to the dedup "
    "substrate). Determinism: bucket sizes are exact integers over "
    "DISTINCT (doc, gram) postings; each entropy term is rounded to 6 dp "
    "and summed as DECIMAL (order-independent), then rounded once. "
    "Scale: grams travel as xxhash64 keys (the q191 discipline — "
    "collision odds ~1e-11 at 1e4 grams; only counts leave the "
    "aggregate, no gram strings shuffle).",
)
def q216(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    grams = d.filter(F.size(F.split("text", " ")) >= 3).select(
        "lang",
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(split(text, ' ')) - 3), "
                    "i -> xxhash64(array_join(slice(split(text, ' '), i + 1, 3), ' ')))"
                )
            )
        ).alias("gh"),
    )
    b = grams.groupBy("lang", "gh").agg(F.count("*").alias("sz"))
    n = b.groupBy("lang").agg(
        F.sum("sz").alias("total"),
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_size"),
    )
    term = F.round(
        (F.col("sz").cast("double") / F.col("total"))
        * F.log2(F.col("total").cast("double") / F.col("sz")),
        6,
    ).cast("decimal(18,6)")
    return (
        b.join(n, "lang")
        .groupBy("lang", "n_buckets", "max_size", "total")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("size_entropy_bits"))
        .select(
            "lang",
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            F.col("max_size").cast("bigint").alias("max_size"),
            F.round(F.col("max_size").cast("double") / F.col("total"), 6).alias(
                "top_share"
            ),
            "size_entropy_bits",
        )
    )


# ---------------------------------------------------------------------------
# q217: Spearman rank agreement between two document scorers
# ---------------------------------------------------------------------------


@query(
    "q217_scorer_rank_correlation",
    oracle="""
WITH s AS (
  SELECT source, doc_id, n_chars,
         len(string_split(text, ' ')) AS n_words
  FROM documents),
r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS r1,
         row_number() OVER (PARTITION BY source ORDER BY n_words, doc_id)
           AS r2
  FROM s)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(1.0 - CAST(6 * sum((r1 - r2) * (r1 - r2)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE)
                * (CAST(count(*) AS DOUBLE) * count(*) - 1)), 6) AS spearman
FROM r GROUP BY source
""",
    doc="Scorer-agreement audit (Spearman rho): per source, the rank "
    "correlation between two quality proxies — character length and "
    "word count — the calibration check run before swapping one "
    "filtering scorer for a cheaper one (rho ≈ 1 means the cheap scorer "
    "orders the corpus the same way, so the filter keeps the same set). "
    "Determinism: ranks are row_numbers over (exact integer score, "
    "doc_id) — no ties ever reach the formula — and rho is one mirrored "
    "float expression over exact integer sums of squared rank "
    "differences. Scale (the q175 distinct-value decomposition — no "
    "task ever sorts a per-source corpus slice): each rank is "
    "count-strictly-below + rank-within-tie-block, where the cumulative "
    "count runs over the DISTINCT (source, score) value relation "
    "(bounded by the score domain) and the tie-block row_number is "
    "partitioned by (source, score) — tasks are tie-block-sized, never "
    "corpus/|sources|-sized. Exact: intra-tie order is doc_id in both "
    "rankings, identical to the corpus-wide window spelling.",
)
def q217(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        value_domain_ranks,
    )

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "source", "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_words")
    )

    def add_rank(df, score, out):
        # the extracted first-class operator (r11): rank = count-strictly-
        # below over the DISTINCT (source, score) relation + tie-block
        # row_number — bit-equal to the corpus window, value-domain tasks
        return value_domain_ranks(df, ["source"], score, out, ["doc_id"])

    r = add_rank(add_rank(s, "n_chars", "r1"), "n_words", "r2")
    cnt = F.count("*")
    return r.groupBy("source").agg(
        cnt.cast("bigint").alias("n_docs"),
        F.round(
            1.0
            - (6 * F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))))
            .cast("double")
            / (cnt.cast("double") * (cnt.cast("double") * cnt - 1)),
            6,
        ).alias("spearman"),
    )


# ---------------------------------------------------------------------------
# q218: event inter-arrival burstiness per event type
# ---------------------------------------------------------------------------


@query(
    "q218_event_burstiness",
    oracle="""
WITH g AS (
  SELECT event_type,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events),
s AS (SELECT event_type, CAST(count(gap) AS BIGINT) AS n_gaps,
             sum(CAST(gap AS DECIMAL(38,0))) AS s1,
             sum(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY 1)
SELECT event_type, n_gaps,
       round(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_ms,
       round((sqrt(CAST(s2 AS DOUBLE) / n_gaps
                   - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
              - CAST(s1 AS DOUBLE) / n_gaps)
             / (sqrt(CAST(s2 AS DOUBLE) / n_gaps
                     - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
                + CAST(s1 AS DOUBLE) / n_gaps), 6) AS burstiness
FROM s
""",
    doc="Inter-arrival burstiness (Goh-Barabási B = (σ−μ)/(σ+μ)): per "
    "event type, the coefficient over per-user inter-arrival gaps — "
    "B→−1 is a metronome (bot cadence), B≈0 Poisson, B→1 bursty human "
    "sessions; the signal behind rate-limit tuning and bot triage. "
    "Determinism: gaps are exact integer epoch-milliseconds from a lag "
    "window ordered (ts, event_id); mean and variance come from exact "
    "DECIMAL(38,0) sums of gaps and squared gaps (never a float "
    "stddev aggregate, whose partial merge is partition-order-"
    "dependent), finished by one mirrored float expression. Scale: one "
    "window shuffle on (user, type), then a |types|-row aggregate.",
)
def q218(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gd = F.col("gap").cast("decimal(38,0)")
    s = g.groupBy("event_type").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.sum(gd).alias("s1"),
        F.sum(gd * gd).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(F.col("s2").cast("double") / F.col("n_gaps") - mean * mean)
    return s.select(
        "event_type",
        "n_gaps",
        F.round(mean, 4).alias("mean_gap_ms"),
        F.round((sigma - mean) / (sigma + mean), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# q219: price band matcher — the scalable band join as a first-class query
# ---------------------------------------------------------------------------


@query(
    "q219_price_band_match",
    oracle="""
SELECT a.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_pairs,
       min(round(abs(a.o_totalprice - b.o_totalprice), 4)) AS min_diff
FROM orders a
JOIN orders b
  ON b.o_orderpriority = a.o_orderpriority
 AND b.o_orderkey > a.o_orderkey
 AND b.o_totalprice >= a.o_totalprice - 50.0
 AND b.o_totalprice <= a.o_totalprice + 50.0
GROUP BY a.o_orderpriority
""",
    doc="Near-price order pairs (±50.0) within each priority class — the "
    "duplicate-payment / split-invoice screen, and the BAND JOIN done "
    "the scalable way: bucket prices at the band width "
    "(floor(price/50)), explode one side into its 3 neighbor offsets, "
    "and equi-join on (priority, bucket) so join work is bounded by "
    "bucket collisions — never the |priority-class|² enumeration a "
    "naive equi-join-on-priority + band filter would do (the q207 "
    "lesson as a first-class operator; the band-join lint rule guards "
    "the plan). Determinism: the band test compares the ORIGINAL "
    "doubles (IEEE-identical in both engines); the only aggregates are "
    "an integer count and a min of per-pair rounded diffs (min is "
    "order-independent). Scale: the explode triples one side's keys; "
    "candidates are bucket-local.",
)
def q219(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    eps = 50.0
    a = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").alias("ka"),
        F.col("o_totalprice").alias("pa"),
        F.floor(F.col("o_totalprice") / eps).alias("bkt"),
    )
    a = (
        a.withColumn("off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("bkt", F.col("bkt") + F.col("off"))
        .drop("off")
    )
    b = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").alias("kb"),
        F.col("o_totalprice").alias("pb"),
        F.floor(F.col("o_totalprice") / eps).alias("bkt"),
    )
    pairs = (
        a.join(b, ["prio", "bkt"])
        .filter(
            (F.col("kb") > F.col("ka"))
            & (F.col("pb") >= F.col("pa") - eps)
            & (F.col("pb") <= F.col("pa") + eps)
        )
        .select(
            "prio", "ka", "kb", F.round(F.abs(F.col("pa") - F.col("pb")), 4).alias("d")
        )
        # a pair can collide in up to 2 of the 3 offset buckets when the
        # prices straddle a bucket edge — dedup on the pair key
        .groupBy("prio", "ka", "kb")
        .agg(F.min("d").alias("d"))
    )
    return pairs.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("d").alias("min_diff"),
    )


# ---------------------------------------------------------------------------
# q220: TPC-H Q7 shape — trade volume between two nations by ship year
# ---------------------------------------------------------------------------


@query(
    "q220_nation_trade_volume",
    oracle="""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(18,6))) AS DOUBLE), 2) AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
GROUP BY 1, 2, 3
""",
    doc="TPC-H Q7 (volume shipping): revenue flowing between two nations "
    "in either direction, by supplier nation, customer nation, and ship "
    "year — the dim-SELF-PAIR join (nation appears twice under different "
    "roles) with a disjunctive cross-filter. Determinism: DECIMAL "
    "revenue sums, integer year. Scale: both nation copies broadcast "
    "(25 constant rows each); the disjunction prunes AFTER the cheap "
    "dim joins, and the fact chain shuffles once on its join keys.",
)
def q220(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("snk"))
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cnk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_18")
                & (F.col("cust_nation") == "NATION_19")
            )
            | (
                (F.col("supp_nation") == "NATION_19")
                & (F.col("cust_nation") == "NATION_18")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double"),
            2,
        ).alias("volume")
    )


# ---------------------------------------------------------------------------
# q221: lexical richness per source (vocabulary, hapax, type-token ratio)
# ---------------------------------------------------------------------------


@query(
    "q221_lexical_richness",
    oracle="""
WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
           FROM documents),
wc AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_share
FROM wc GROUP BY source
""",
    doc="Lexical-richness report: per source, token count, vocabulary "
    "size, hapax legomena (once-only words), type-token ratio, and the "
    "hapax share of the vocabulary — the richness fingerprint that "
    "separates template-generated feeds (tiny vocab, near-zero hapax) "
    "from organic text, complementing q156's Zipf slope and q149's OOV "
    "rate. Determinism: pure integer counts and two single divisions. "
    "Scale: one (source, word) partial aggregate — map-side combine "
    "absorbs the token explosion — then a |sources|-row rollup; no raw "
    "text shuffles.",
)
def q221(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    once = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("vocab"),
        once.cast("bigint").alias("hapax"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
        F.round(once.cast("double") / F.count("*"), 6).alias("hapax_share"),
    )


# ---------------------------------------------------------------------------
# q222: user-value Gini concentration per event type
# ---------------------------------------------------------------------------


@query(
    "q222_user_value_gini",
    oracle="""
WITH u AS (
  SELECT event_type, user_id,
         sum(CAST(value AS DECIMAL(18,4))) AS x
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x, user_id)
           AS i,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM u)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_users,
       round((2.0 * CAST(sum(i * x) AS DOUBLE)
              - (CAST(max(n) AS DOUBLE) + 1) * CAST(sum(x) AS DOUBLE))
             / (CAST(max(n) AS DOUBLE) * CAST(sum(x) AS DOUBLE)), 6) AS gini
FROM r GROUP BY event_type
""",
    doc="Value-concentration Gini index: per event type, how unequally "
    "total event value distributes across users (0 = uniform, →1 = one "
    "whale carries everything) via the rank formula G = (2Σi·x₍ᵢ₎ − "
    "(n+1)Σx)/(nΣx) over users sorted ascending — the whale-risk / "
    "skew-monitoring economics metric (and the statistical cousin of "
    "q163's join-key skew audit: a high-Gini key column is a salting "
    "candidate). Determinism: per-user totals are DECIMAL sums; Σi·x "
    "and Σx stay DECIMAL-exact and the Gini is one mirrored float "
    "expression. Scale (the q175 distinct-value decomposition): the "
    "rank formula needs only Σi·x, and every user in an x-tie block "
    "contributes the same x — so each block's rank mass is "
    "x·(k·c + k(k+1)/2) with k the block size and c the users strictly "
    "below, computed with ONE cumulative window over the DISTINCT "
    "(type, x) value relation; no task ever sorts the per-type user "
    "population, and the result is bit-identical to the per-user "
    "row_number spelling (intra-tie order cannot change Σi·x).",
)
def q222(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        value_domain_rank_blocks,
    )

    e = load_table(spark, sf_dir, "events")
    # Deliberately NO under-split fan-out before the per-user aggregation
    # (r14): one decimal sum per row is cheaper than shuffling the raw
    # rows — measured 1.20 s without vs 2.07 s with on the ×10
    # single-file ladder replica (interleaved quiet-box A/B); q01's win
    # needed eight decimal aggregates per row to amortize the exchange.
    u = e.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("x")
    )
    # the extracted block operator (r11): one row per (type, per-user
    # total) with multiplicity k and count-strictly-below c
    b = value_domain_rank_blocks(
        u, ["event_type"], "x", count_col="k", below_col="c"
    )
    # ranks in a tie block are c+1..c+k → Σranks = k·c + k(k+1)/2 (exact
    # integer: shiftright halves the always-even k·(k+1))
    rank_sum = F.col("k") * F.col("c") + F.shiftright(F.col("k") * (F.col("k") + 1), 1)
    m = b.select(
        "event_type",
        "k",
        (rank_sum * F.col("x")).alias("ix"),
        (F.col("k") * F.col("x")).alias("kx"),
    )
    nD = F.sum("k").cast("double")
    return m.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("n_users"),
        F.round(
            (2.0 * F.sum("ix").cast("double") - (nD + 1) * F.sum("kx").cast("double"))
            / (nD * F.sum("kx").cast("double")),
            6,
        ).alias("gini"),
    )
