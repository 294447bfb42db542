"""Round-4 query registrations: analytics over the dedup graph, exact
regression/EWMA statistics, boilerplate detection, LSH calibration,
salted-join correctness, stratified sampling, interval overlap, event
debouncing, and JSON key profiling.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring): integer outputs are BIGINT on both sides, float
outputs are exact-decimal-aggregated (or identically-ordered folds) then
rounded, sampling coins are md5 buckets, ties break on unique keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph, skew
from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import hash_bucket
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Dedup-graph analytics
# ---------------------------------------------------------------------------


@query(
    "q128_dedup_cluster_stats",
    oracle="""
WITH RECURSIVE
words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
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
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
),
clusters AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
by_cluster AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY cluster_id)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS removable_docs
FROM by_cluster GROUP BY cluster_size
""",
    doc="Dedup-impact report: the cluster-size distribution of the fuzzy "
    "dedup graph (Jaccard>=0.8 closure) with the removable-duplicate mass "
    "per size — the go/no-go analytics a pipeline runs before committing a "
    "dedup pass. Same closure as q35; two tiny aggregations on top.",
)
def q128(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.8)
    clusters = graph.dedup_clusters(pairs, d, id_col="doc_id")
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("removable_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Exact regression aggregates (decimal sums -> deterministic across engines)
# ---------------------------------------------------------------------------


@query(
    "q129_regression_agg",
    oracle="""
WITH p AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(value AS DECIMAL(18,4)) AS y
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM p GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CAST((n * sxy - sx * sy) AS DOUBLE) / CAST((n * sxx - sx * sx) AS DOUBLE), 6) AS slope,
       round((CAST(sy AS DOUBLE) - CAST((n * sxy - sx * sy) AS DOUBLE)
              / CAST((n * sxx - sx * sx) AS DOUBLE) * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
       round(CAST((n * sxy - sx * sy) AS DOUBLE)
             / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE) * CAST((n * syy - sy * sy) AS DOUBLE)), 6) AS corr_xy
FROM s
""",
    doc="Per-group linear regression (trend of event value over time) from "
    "EXACT moment sums: x/xy/x2/y2 accumulate as integers/decimals, so the "
    "result is partition-order-independent — float regr_slope() would be "
    "run-to-run nondeterministic under Spark's parallel sums. One "
    "partial-aggregated groupBy; the closed-form division happens on 5 "
    "rows.",
)
def q129(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = e.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    s = p.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / denx
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(num / F.sqrt(denx * deny), 6).alias("corr_xy"),
    )


# ---------------------------------------------------------------------------
# EWMA: ordered fold inside a group (F.aggregate over a sorted array)
# ---------------------------------------------------------------------------


@query(
    "q130_ewma_daily",
    oracle="""
WITH RECURSIVE
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
  FROM events WHERE value IS NOT NULL GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, d, total,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM daily
),
fold(event_type, i, m, acc) AS (
  SELECT event_type, i, m, 0.3 * total FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.i, idx.m, 0.3 * idx.total + 0.7 * fold.acc
  FROM fold JOIN idx ON idx.event_type = fold.event_type AND idx.i = fold.i + 1
)
SELECT event_type, CAST(m AS BIGINT) AS n_days, round(acc, 4) AS ewma
FROM fold WHERE i = m
""",
    doc="Exponentially weighted moving average of daily event value per "
    "type — the sequential-recurrence-in-a-group pattern: daily totals are "
    "exact-decimal then rounded (identical fold INPUT on both engines), "
    "collected sorted, and folded with one F.aggregate (same IEEE op "
    "order as the oracle's recursive CTE ⇒ bit-stable). One shuffle for "
    "the daily rollup, one for the per-group collect; group state is "
    "bounded by days-per-group, not rows.",
)
def q130(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "total"
            )
        )
    )
    per = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.array_sort(F.collect_list(F.struct("d", "total"))).alias("series"),
    )
    ewma = F.aggregate(
        F.col("series"),
        F.lit(0.0),
        lambda acc, x: F.lit(0.3) * x["total"] + F.lit(0.7) * acc,
    )
    return per.select("event_type", "n_days", F.round(ewma, 4).alias("ewma"))


# ---------------------------------------------------------------------------
# Boilerplate detection (cross-doc repeated segments -> per-doc ratio)
# ---------------------------------------------------------------------------


@query(
    "q131_boilerplate_ratio",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
seg AS (
  SELECT doc_id, md5(trim(lower(array_to_string(ws[i*12+1:i*12+12], ' ')))) AS fp
  FROM w, unnest(range(0, CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)
  WHERE length(trim(array_to_string(ws[i*12+1:i*12+12], ' '))) > 20
),
df AS (SELECT fp, count(DISTINCT doc_id) AS docs FROM seg GROUP BY fp),
flagged AS (
  SELECT seg.doc_id, seg.fp, (df.docs >= 5) AS is_boiler
  FROM seg JOIN df ON seg.fp = df.fp
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       round(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
         AS boilerplate_ratio
FROM flagged GROUP BY doc_id
""",
    doc="Boilerplate remover's scoring pass: 12-word segments (q38's "
    "punctuation-less sentence unit) fingerprinted, document frequency "
    "counted, segments in >=5 distinct docs flagged, per-doc boilerplate "
    "ratio emitted. Two partial-aggregated shuffles on 16-byte "
    "fingerprints; the text itself never shuffles.",
)
def q131(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(ws) / F.lit(12.0)).cast("int")
    seg = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.trim(
                        F.array_join(F.slice(ws, i * 12 + 1, 12), " ")
                    ),
                )
            ).alias("s"),
        )
        .filter(F.length("s") > 20)
        .select("doc_id", F.md5(F.lower("s")).alias("fp"))
    )
    docfreq = seg.groupBy("fp").agg(F.count_distinct("doc_id").alias("docs"))
    flagged = seg.join(docfreq, "fp").select(
        "doc_id", (F.col("docs") >= 5).alias("is_boiler")
    )
    boiler_n = F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        boiler_n.alias("n_boilerplate"),
        F.round(boiler_n / F.count("*").cast("double"), 4).alias("boilerplate_ratio"),
    )


# ---------------------------------------------------------------------------
# LSH calibration: exact-verify ONLY the candidate pairs (2-stage pattern)
# ---------------------------------------------------------------------------


def _lsh_calibration_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from etl_pipeline_for_elasticsearch_json_document_spark.queries.llm import (
        _minhash_oracle,
    )

    base = _minhash_oracle(num_hashes=num_hashes, bands=bands, threshold=0.0)
    # reuse the candidate+est CTE chain, then exact-verify candidates only
    body = base.strip().rstrip()
    return f"""
WITH est AS ({body}),
words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT e.a_id, e.b_id, e.est_jaccard, count(*) AS i
  FROM est e
  JOIN words wa ON wa.doc_id = e.a_id
  JOIN words wb ON wb.doc_id = e.b_id AND wb.w = wa.w
  GROUP BY e.a_id, e.b_id, e.est_jaccard
),
scored AS (
  SELECT round(CAST(est_jaccard AS DOUBLE), 1) AS est_bucket,
         est_jaccard - i / CAST(sa.n + sb.n - i AS DOUBLE) AS err
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
)
SELECT est_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(err)), 4) AS mae, round(avg(err), 4) AS bias
FROM scored GROUP BY est_bucket
"""


@query(
    "q132_lsh_verify_calibration",
    oracle=_lsh_calibration_oracle(),
    doc="Two-stage LSH verification, instrumented: exact Jaccard is "
    "computed ONLY for LSH candidate pairs (postings join restricted by "
    "the candidate set — never all-pairs), then the estimator's error "
    "(MAE/bias) is reported per estimated-similarity bucket. This is both "
    "the production verify stage and the sketch-quality report that "
    "decides band/row settings.",
)
def q132(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(d, "doc_id", "text", num_hashes=16, bands=4, threshold=0.0)
    words = dedup._distinct_words(d, "doc_id", "text")
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n"))
    wa = words.select(F.col("doc_id").alias("a_id"), "w")
    wb = words.select(F.col("doc_id").alias("b_id"), "w")
    inter = (
        cand.join(wa, "a_id")
        .join(wb, ["b_id", "w"])
        .groupBy("a_id", "b_id", "est_jaccard")
        .agg(F.count("*").alias("i"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
        .select(
            F.round(F.col("est_jaccard"), 1).alias("est_bucket"),
            (
                F.col("est_jaccard")
                - F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("err"),
        )
    )
    return scored.groupBy("est_bucket").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs("err")), 4).alias("mae"),
        F.round(F.avg("err"), 4).alias("bias"),
    )


# ---------------------------------------------------------------------------
# Salted join == plain join (skew mitigation is invisible to results)
# ---------------------------------------------------------------------------


@query(
    "q133_salted_join",
    oracle="""
WITH dim(prio, weight) AS (VALUES
  ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3), ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
SELECT weight, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
FROM orders JOIN dim ON o_orderpriority = prio
GROUP BY weight
""",
    doc="Manual salted join for hot keys AQE cannot see: the big side "
    "salts, the 5-row dim replicates salt-fold, the join key becomes "
    "(key, salt) — and the RESULT is bit-identical to the plain join "
    "(that equality is this query's oracle check). The salt column never "
    "escapes the operator.",
)
def q133(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_orderpriority", "prio")
    dim = spark.createDataFrame(
        [("1-URGENT", 5), ("2-HIGH", 4), ("3-MEDIUM", 3), ("4-NOT SPECIFIED", 2), ("5-LOW", 1)],
        "prio string, weight int",
    )
    joined = skew.salted_join(o, dim, on="prio", salt=8)
    return joined.groupBy("weight").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Length-stratified (curriculum) sampling with per-decile rates
# ---------------------------------------------------------------------------


@query(
    "q134_length_stratified_sample",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
b AS (
  SELECT doc_id, lang, n_tokens,
         ntile(10) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS decile
  FROM toks
),
s AS (
  SELECT lang, decile, n_tokens,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
           CASE WHEN decile >= 8 THEN 'c' ELSE '6' END AS sampled
  FROM b
)
SELECT lang, decile, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM s GROUP BY lang, decile
""",
    doc="Curriculum sampling: per-language token-length deciles sampled "
    "at per-decile rates — long docs kept at 12/16, short at 6/16 — with "
    "the md5-bucket coin, so the SAME documents are chosen under any "
    "partitioning, engine, or re-run (rand() would leak docs between "
    "train sets across backfills). Scale (the q175 distinct-value "
    "decomposition): each doc's rank is count-strictly-below (one "
    "cumulative window over the DISTINCT (lang, n_tokens) relation — "
    "bounded by the length domain) plus a row_number inside its "
    "(lang, n_tokens) tie block, and the decile is SQL ntile's exact "
    "closed form over (rank, n) — first n%10 buckets hold "
    "floor(n/10)+1 rows — verified bucket-for-bucket against F.ntile; "
    "no task ever sorts a whole language's corpus slice.",
)
def q134(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    g = d.groupBy("lang", "n_tokens").agg(F.count("*").alias("k"))
    wv = (
        Window.partitionBy("lang")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    below = g.select(
        "lang",
        "n_tokens",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(Window.partitionBy("lang")).alias("n"),
    )
    tie = Window.partitionBy("lang", "n_tokens").orderBy("doc_id")
    ranked = d.join(below, ["lang", "n_tokens"]).withColumn(
        "rk", F.col("below") + F.row_number().over(tie)
    )
    # ntile(10) closed form (double ceil is exact: ranks << 2^53)
    q_ = F.floor(F.col("n") / 10)
    r_ = F.col("n") % 10
    decile = (
        F.when(F.col("rk") <= (q_ + 1) * r_, F.ceil(F.col("rk") / (q_ + 1)))
        .otherwise(r_ + F.ceil((F.col("rk") - (q_ + 1) * r_) / q_))
        .cast("int")
    )
    b = ranked.withColumn("decile", decile)
    sampled = hash_bucket(F.col("doc_id")) < F.when(
        F.col("decile") >= 8, F.lit("c")
    ).otherwise(F.lit("6"))
    return (
        b.withColumn("sampled", sampled)
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("sampled"), 1).otherwise(0)).alias("n_sampled"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap aggregation against a literal dimension
# ---------------------------------------------------------------------------


@query(
    "q135_campaign_overlap",
    oracle="""
WITH sessions AS (
  -- floor() per row: Spark's unix_timestamp truncates sub-second parts,
  -- DuckDB's epoch() keeps them; truncate before aggregating on both sides
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(min(floor(epoch(ts))) AS BIGINT) AS s_start,
         CAST(max(floor(epoch(ts))) AS BIGINT) AS s_end
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
campaigns(name, c_start, c_end) AS (VALUES
  ('wk1_push',  CAST(epoch(TIMESTAMP '2024-01-03 00:00:00') AS BIGINT), CAST(epoch(TIMESTAMP '2024-01-08 12:00:00') AS BIGINT)),
  ('mid_month', CAST(epoch(TIMESTAMP '2024-01-12 06:00:00') AS BIGINT), CAST(epoch(TIMESTAMP '2024-01-19 18:00:00') AS BIGINT)),
  ('month_end', CAST(epoch(TIMESTAMP '2024-01-25 00:00:00') AS BIGINT), CAST(epoch(TIMESTAMP '2024-02-02 00:00:00') AS BIGINT)))
SELECT name,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(least(s_end, c_end) - greatest(s_start, c_start)) AS BIGINT)
         AS overlap_seconds
FROM sessions JOIN campaigns
  ON s_start < c_end AND s_end > c_start
GROUP BY name
""",
    doc="Interval-intersection aggregation: user-day activity spans joined "
    "to campaign windows on overlap, intersection DURATION summed — the "
    "attribution/coverage primitive beyond q27's membership range join. "
    "The 3-row campaign dim broadcasts; the span table is one "
    "partial-aggregated groupBy of events.",
)
def q135(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    sessions = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.min(F.unix_timestamp("ts")).alias("s_start"),
        F.max(F.unix_timestamp("ts")).alias("s_end"),
    )
    campaigns = F.broadcast(
        e.sparkSession.createDataFrame(
            [
                ("wk1_push", "2024-01-03 00:00:00", "2024-01-08 12:00:00"),
                ("mid_month", "2024-01-12 06:00:00", "2024-01-19 18:00:00"),
                ("month_end", "2024-01-25 00:00:00", "2024-02-02 00:00:00"),
            ],
            "name string, cs string, ce string",
        ).select(
            "name",
            F.unix_timestamp(F.to_timestamp("cs")).alias("c_start"),
            F.unix_timestamp(F.to_timestamp("ce")).alias("c_end"),
        )
    )
    j = sessions.join(
        campaigns,
        (F.col("s_start") < F.col("c_end")) & (F.col("s_end") > F.col("c_start")),
    )
    return j.groupBy("name").agg(
        F.count("*").alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(
            F.least("s_end", "c_end") - F.greatest("s_start", "c_start")
        ).alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------------
# Event debouncing (adjacent-duplicate suppression per key)
# ---------------------------------------------------------------------------


@query(
    "q136_debounce_events",
    oracle="""
WITH x AS (
  SELECT event_type, user_id, ts,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS gap
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN prev_type = event_type AND gap <= 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_debounced,
       CAST(count(*) - sum(CASE WHEN prev_type = event_type AND gap <= 60 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM x GROUP BY event_type
""",
    doc="Debounce: suppress an event repeating the same user's previous "
    "event type within 60 s (double-click/retry noise removal before "
    "sessionization). One lag window per user (single shuffle on user_id, "
    "event_id tiebreak for determinism) — the batch twin of a stateful "
    "streaming filter.",
)
def q136(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap"),
    )
    debounced = F.sum(
        F.when((F.col("prev_type") == F.col("event_type")) & (F.col("gap") <= 60), 1).otherwise(0)
    )
    return x.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        debounced.alias("n_debounced"),
        (F.count("*") - debounced).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# JSON key-universe profiling (schema discovery as a query)
# ---------------------------------------------------------------------------


@query(
    "q137_json_key_profile",
    oracle="""
WITH total AS (SELECT count(*) AS n FROM events WHERE props IS NOT NULL),
k AS (
  SELECT unnest(json_keys(props)) AS key
  FROM events WHERE props IS NOT NULL
)
SELECT key, CAST(count(*) AS BIGINT) AS n_present,
       round(count(*) / CAST((SELECT n FROM total) AS DOUBLE), 4) AS presence_ratio
FROM k GROUP BY key
""",
    doc="Semi-structured key-universe profile: every key appearing in the "
    "props JSON column with its document-presence ratio — the query-level "
    "face of the engine's A5 schema discovery, and the first thing run on "
    "an unknown JSON feed. json_object_keys + explode + one aggregation; "
    "the JSON parses once per row, JVM-side.",
)
def q137(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    # ratio denominator as a broadcast 1-row aggregate, not a driver count()
    total = F.broadcast(e.agg(F.count("*").cast("double").alias("__total")))
    k = e.select(F.explode(F.json_object_keys("props")).alias("key"))
    return (
        k.groupBy("key")
        .agg(F.count("*").alias("n_present"))
        .crossJoin(total)
        .select(
            "key",
            "n_present",
            F.round(F.col("n_present") / F.col("__total"), 4).alias("presence_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# k-means codebook fit (the trainer behind IVF/PQ) — deterministic Lloyd
# ---------------------------------------------------------------------------


def _kmeans_oracle(k: int = 8, dim: int = 64) -> str:
    """Two Lloyd iterations unrolled in SQL, mirroring kmeans_fit exactly:
    first-k init, index-ordered L2 fold, (dist, cid) tie-break, DECIMAL
    per-dim sums divided in double."""
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))"
    ).format(d=dim)

    def it(prev: str, n: int) -> str:
        return f"""
d{n} AS (SELECT e.vec_id, e.v, c.cid, {dist} AS dist
        FROM e CROSS JOIN {prev} c),
a{n} AS (SELECT vec_id, v, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d{n}) t WHERE rn = 1),
s{n} AS (SELECT cid, i AS dim, sum(CAST(v[i] AS DECIMAL(18,9))) AS s, count(*) AS n
        FROM a{n}, unnest(range(1, {dim} + 1)) AS t(i) GROUP BY cid, i),
c{n} AS (SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS c FROM s{n} GROUP BY cid)"""

    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {k}),
{it("c0", 1)},
{it("c1", 2)},
final AS (SELECT e.vec_id, c.cid, round({dist}, 6) AS dist
          FROM e CROSS JOIN c2 c),
best AS (SELECT vec_id, cid, dist FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           FROM final) t WHERE rn = 1)
SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(dist AS DECIMAL(28,6))) AS DOUBLE), 2) AS inertia
FROM best GROUP BY cid
"""


@query(
    "q138_kmeans_codebook",
    oracle=_kmeans_oracle(),
    doc="Deterministic Lloyd k-means (k=8, 2 iterations) over the "
    "embedding corpus — the codebook trainer that feeds knn_ivf's "
    "partitions and PQ's sub-quantizers. First-k init, index-ordered L2 "
    "fold, (dist, cid) tie-break, per-dim DECIMAL update sums divided in "
    "IEEE double ⇒ the fit is reproducible across runs, partitionings, "
    "and engines (the oracle replays both iterations in SQL). Emits the "
    "final per-cluster sizes and exact-decimal inertia.",
)
def q138(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iterations=2)
    asg = kmeans_assign(emb, cents)
    return asg.groupBy("cid").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum(F.col("dist").cast("decimal(28,6)")).cast("double"), 2).alias(
            "inertia"
        ),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-means blocks -> within-cluster cosine prune
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle(k: int = 8, threshold: float = 0.95) -> str:
    base = _kmeans_oracle(k=k)
    # keep the CTE chain up to `best` (final assignment), then prune
    body = base.strip().split("SELECT cid, CAST(count(*) AS BIGINT)")[0].rstrip().rstrip(",")
    return f"""{body},
pairs AS (
  SELECT a.cid, b.vec_id AS b_id
  FROM best a JOIN best b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= {threshold}
),
removed AS (SELECT DISTINCT cid, b_id FROM pairs)
SELECT b.cid, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(r.b_id) AS BIGINT) AS n_removed,
       round(count(r.b_id) / CAST(count(*) AS DOUBLE), 4) AS removed_frac
FROM best b LEFT JOIN removed r ON r.cid = b.cid AND r.b_id = b.vec_id
GROUP BY b.cid
"""


@query(
    "q139_semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup: k-means clusters as blocking keys, cosine>=0.95 pairs "
    "computed ONLY within a cluster (the pair join is an equi-join on "
    "cid — at 100 TB each cluster is a partition and the quadratic term "
    "is bounded by cluster size, tunable via k), remove-the-higher-id "
    "rule, per-cluster removal report. The deterministic kmeans_fit makes "
    "the whole pipeline — including the blocking — engine-reproducible.",
)
def q139(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        cosine,
        kmeans_assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=8, iterations=2)
    asg = kmeans_assign(emb, cents).select("vec_id", "cid")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = asg.join(v, "vec_id").select(
        F.col("cid"), F.col("vec_id").alias("a_id"), F.col("v").alias("va")
    )
    b = asg.join(v, "vec_id").select(
        F.col("cid"), F.col("vec_id").alias("b_id"), F.col("v").alias("vb")
    )
    pairs = a.join(b, "cid").filter(F.col("a_id") < F.col("b_id")).filter(
        F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.95
    )
    removed = (
        pairs.select(F.col("cid").alias("r_cid"), F.col("b_id")).distinct()
    )
    return (
        asg.join(
            removed,
            (asg["cid"] == removed["r_cid"]) & (asg["vec_id"] == removed["b_id"]),
            "left",
        )
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count("b_id").alias("n_removed"),
            F.round(F.count("b_id") / F.count("*").cast("double"), 4).alias(
                "removed_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sketch-guided heavy hitters: CMS prunes the key space, exact verify wins
# ---------------------------------------------------------------------------


@query(
    "q140_heavy_hitters",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id HAVING count(*) >= 72
""",
    doc="Two-stage heavy-hitter detection: a count-min sketch (depth x "
    "width rows TOTAL, map-side combined) estimates every key's frequency, "
    "keys whose ESTIMATE clears the threshold become candidates, and only "
    "candidates get an exact count. CMS overestimates but never "
    "underestimates, so the candidate set is a superset and the exact "
    "verify makes the output EQUAL to the full groupBy — while at 100 TB "
    "the exact aggregation touches only the semi-joined sliver of the "
    "stream instead of every key.",
)
def q140(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    threshold = 72
    e = load_table(spark, sf_dir, "events")
    sketch = count_min_build(e.select("user_id"), "user_id", depth=4, width=256)
    keys = e.select("user_id").distinct()
    est = count_min_estimate(sketch, keys, "user_id", depth=4, width=256)
    cand = est.filter(F.col("est") >= threshold).select(
        F.col("item").alias("user_id")
    )
    return (
        e.join(cand, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= threshold)
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT similarity join (PPJoin family)
# ---------------------------------------------------------------------------


@query(
    "q141_prefix_filter_jaccard",
    oracle="""
WITH words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(i / (sa.n + sb.n - i), 6) >= 0.6
""",
    doc="Exact Jaccard>=0.6 join via prefix filtering (PPJoin): candidates "
    "only where the documents' (1-t)n+1 globally-RAREST tokens collide — "
    "stopword postings never enter the join — then exact verification on "
    "candidates only. Output identical to the naive inverted-index join "
    "(q31's oracle verbatim) at a fraction of its candidate volume.",
)
def q141(spark, sf_dir):
    return dedup.prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.6
    )


# ---------------------------------------------------------------------------
# Forward as-of join (next event at-or-after), completing q26's backward
# ---------------------------------------------------------------------------


@query(
    "q142_asof_join_forward",
    oracle="""
WITH purchases AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
     clicks    AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         epoch_us(c.ts) - epoch_us(p.ts) AS gap_us,
         row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts, c.event_id) AS rn
  FROM purchases p LEFT JOIN clicks c
    ON p.user_id = c.user_id AND c.ts >= p.ts
)
SELECT purchase_id, click_id, gap_us FROM j WHERE rn = 1
""",
    doc="FORWARD as-of join: earliest click at-or-after each purchase "
    "(time-to-next-action attribution) — q26's mirror. Same union+window "
    "merge, scanned in descending time so the carried value is the next "
    "click: one shuffle by (user, time), no join explosion; ties broken "
    "(ts, click_id) to match the oracle exactly.",
)
def q142(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    tagged = p.withColumn("click_id", F.lit(None).cast("long")).withColumn(
        "is_p", F.lit(1)
    ).unionByName(
        c.withColumn("purchase_id", F.lit(None).cast("long")).withColumn("is_p", F.lit(0))
    )
    # descending scan: the carried click is the nearest ts >= purchase ts;
    # same-ts clicks sort before purchases (>= is inclusive) and larger
    # click ids process first so the carried one is the SMALLEST id.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), "is_p", F.col("click_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged.select(
        "purchase_id",
        "ts",
        "is_p",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    return merged.filter(F.col("is_p") == 1).select(
        "purchase_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# User-journey transition matrix (Markov counts over event sequences)
# ---------------------------------------------------------------------------


@query(
    "q143_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
t AS (SELECT event_type AS from_type, next_type AS to_type FROM seq WHERE next_type IS NOT NULL),
totals AS (SELECT from_type, count(*) AS n_from FROM t GROUP BY from_type)
SELECT t.from_type, t.to_type, CAST(count(*) AS BIGINT) AS n,
       round(count(*) / CAST(max(totals.n_from) AS DOUBLE), 4) AS p
FROM t JOIN totals ON t.from_type = totals.from_type
GROUP BY t.from_type, t.to_type
""",
    doc="User-journey transition matrix: consecutive event-type pairs per "
    "user (one lead window, event_id tiebreak) aggregated into Markov "
    "transition counts and probabilities — the path-analysis primitive "
    "behind funnel discovery. One window shuffle + one agg; probabilities "
    "divide by exact integer counts so they are engine-identical.",
)
def q143(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = t.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    totals = t.groupBy("from_type").agg(F.count("*").alias("n_from"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("n_from").cast("double"), 4).alias("p"),
    )
