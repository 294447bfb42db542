"""Round-5 query registrations: information-theoretic quality scoring
(character entropy, token-distribution JS divergence), robust (winsorized)
statistics, KMV/theta-style distinct-overlap sketches, vocabulary OOV
rates, Matryoshka (truncated-dimension) retrieval evaluation, weighted
reservoir sampling (Efraimidis-Spirakis), and functional-dependency
auditing.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring). Floating-point outputs here are produced by
IDENTICALLY-ORDERED folds (entropy: left fold over char-sorted count
lists; KMV: single exact-dyadic division) or single divisions of exact
integer/decimal aggregates, then rounded — never partition-order-dependent
double sums.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.operators import similarity
from etl_pipeline_for_elasticsearch_json_document_spark.queries.llm import Q40_ORACLE
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q144: per-document character entropy (information-density quality signal)
# ---------------------------------------------------------------------------


@query(
    "q144_char_entropy",
    oracle="""
WITH ch AS (
  SELECT doc_id, lang, unnest(string_split(text, '')) AS c FROM documents),
cnt AS (
  SELECT doc_id, lang, c, count(*) AS n FROM ch WHERE c <> '' GROUP BY ALL),
pd AS (
  SELECT doc_id, lang, list(n ORDER BY c) AS ns, CAST(sum(n) AS DOUBLE) AS nt
  FROM cnt GROUP BY doc_id, lang),
ent AS (
  SELECT doc_id, lang,
         -- + 0.0 normalizes -0.0: a one-distinct-char doc folds to -(1)*log2(1)
         -- = -0.0 here (list_reduce has no seed) but +0.0 in Spark's
         -- 0.0-seeded aggregate(); the hash compare is bit-sensitive.
         round(list_reduce(
             list_transform(ns, x -> -(x / nt) * log2(x / nt)),
             (a, b) -> a + b) + 0.0, 6) AS entropy
  FROM pd)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(entropy AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_entropy,
       round(min(entropy), 6) AS min_entropy,
       round(max(entropy), 6) AS max_entropy
FROM ent GROUP BY lang
""",
    doc="Per-document character Shannon entropy rolled up by language — the "
    "information-density quality filter (binary junk / repeated-char spam "
    "scores near 0 bits). Determinism: entropy is a LEFT FOLD over the "
    "char-sorted count list (identical FP op order in both engines), the "
    "language average is an exact decimal sum of rounded per-doc values. "
    "Scale: one partial-aggregated shuffle on (doc_id, char) — at 100 TB "
    "chars-per-doc is bounded (~100 distinct), so the count relation is "
    "docs×alphabet, not corpus size; text itself never shuffles.",
)
def q144(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), "")).alias("c")
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "lang", "c").agg(F.count("*").alias("n"))
    pd = cnt.groupBy("doc_id", "lang").agg(
        F.expr("transform(sort_array(collect_list(struct(c, n))), x -> x.n)").alias("ns"),
        F.sum("n").cast("double").alias("nt"),
    )
    ent = pd.select(
        "lang",
        F.expr(
            "round(aggregate(transform(ns, x -> -(x / nt) * log2(x / nt)), "
            "CAST(0.0 AS DOUBLE), (a, b) -> a + b), 6)"
        ).alias("entropy"),
    )
    return ent.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("entropy").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_entropy"),
        F.round(F.min("entropy"), 6).alias("min_entropy"),
        F.round(F.max("entropy"), 6).alias("max_entropy"),
    )


# ---------------------------------------------------------------------------
# q145: winsorized (p05/p95-clipped) robust statistics
# ---------------------------------------------------------------------------


@query(
    "q145_winsorized_stats",
    oracle="""
WITH pct AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS p05,
         round(quantile_cont(value, 0.95), 6) AS p95
  FROM events GROUP BY event_type),
clipped AS (
  SELECT e.event_type, pct.p05, pct.p95,
         least(greatest(e.value, pct.p05), pct.p95) AS v
  FROM events e JOIN pct USING (event_type))
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       p05, p95,
       round(CAST(sum(CAST(round(v, 4) AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4)
         AS winsorized_mean
FROM clipped GROUP BY event_type, p05, p95
""",
    doc="Winsorized per-type statistics: exact p05/p95 percentiles (linear "
    "interpolation), values clipped to that band, then the robust mean — "
    "the outlier-resistant monitoring aggregate. Determinism: percentiles "
    "are rounded BEFORE clipping (identical clip thresholds both engines); "
    "the mean is an exact decimal sum of rounded clipped values. Scale: "
    "exact percentile sorts within each type partition — swap in "
    "approx_percentile at 100 TB (the operator is the same shape); the "
    "clip+mean pass is map-side except one partial-aggregated shuffle.",
)
def q145(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    clipped = e.join(F.broadcast(pct), "event_type").withColumn(
        "v", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("event_type", "p05", "p95").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(
            F.sum(F.round(F.col("v"), 4).cast("decimal(18,4)")).cast("double")
            / F.count("*"),
            4,
        ).alias("winsorized_mean"),
    ).select("event_type", "n_events", "p05", "p95", "winsorized_mean")


# ---------------------------------------------------------------------------
# q147: KMV (theta-style) distinct-overlap sketch between event audiences
# ---------------------------------------------------------------------------

_KMV_K = 32

# frac(h) = int(first 8 hex chars of md5) / 2^32 — exact dyadic rational,
# so both engines compute the identical double. DuckDB lacks conv(); build
# the integer with a per-nibble horner fold instead.
_DUCK_HEX_INT = " + ".join(
    f"(strpos('0123456789abcdef', substring(m.h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


@query(
    "q147_kmv_sketch_overlap",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events),
hashed AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM du),
kmv AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed)
  WHERE rn <= {_KMV_K}),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM du) a
  JOIN (SELECT DISTINCT event_type FROM du) b ON a.event_type < b.event_type),
merged AS (
  SELECT DISTINCT p.type_a, p.type_b, k.h
  FROM pairs p JOIN kmv k ON k.event_type IN (p.type_a, p.type_b)),
dedup_merged AS (
  SELECT type_a, type_b, h,
         row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
  FROM merged
  QUALIFY rn <= {_KMV_K}),
stats AS (
  SELECT m.type_a, m.type_b,
         CAST(sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS both_in_k,
         max(CASE WHEN m.rn = {_KMV_K} THEN ({_DUCK_HEX_INT}) END) / 4294967296.0
           AS kth_frac
  FROM dedup_merged m
  LEFT JOIN kmv ia ON ia.event_type = m.type_a AND ia.h = m.h
  LEFT JOIN kmv ib ON ib.event_type = m.type_b AND ib.h = m.h
  GROUP BY m.type_a, m.type_b),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS exact_common
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT s.type_a, s.type_b, e.exact_common,
       round(s.both_in_k / {_KMV_K}.0, 6) AS jaccard_est,
       round(({_KMV_K} - 1) / s.kth_frac, 2) AS union_est,
       round(s.both_in_k / {_KMV_K}.0 * (({_KMV_K} - 1) / s.kth_frac), 2)
         AS common_est
FROM stats s JOIN exact e ON e.type_a = s.type_a AND e.type_b = s.type_b
""",
    doc="KMV / theta-style distinct-overlap sketch: per event type keep the "
    f"K={_KMV_K} minimum md5 hashes of its audience; for every type pair "
    "estimate |A∪B| from the K-th smallest merged hash ((K−1)/h_K) and "
    "Jaccard from the fraction of the merged top-K present in both "
    "sketches — the set-INTERSECTION estimate HLL cannot give. Exact "
    "intersections computed alongside (the quality report). Determinism: "
    "md5-ordered sketches and one exact-dyadic division, so even the "
    "estimates are bit-reproducible cross-engine. Scale: sketches are "
    "K-row relations after one distinct — the pairwise stage touches "
    "K×types rows regardless of corpus size; at 100 TB replace the "
    "audience distinct with per-shard KMV merge (sketches union by "
    "keeping K smallest, associatively).",
)
def q147(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    # No .cache(): the sketch is K rows per type and rebuilt cheaply; caching
    # here leaked blocks into executor storage for the rest of the session
    # every time the query gate ran (ADVICE r5). Bottom-K per type via the
    # salted two-level top-k — no task ever sorts a whole type's user slice
    # (h is md5 over distinct users: unique within a type, its own tiebreak).
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sampling

    kmv = sampling.per_key_topk(hashed, ["event_type"], ["h"], _KMV_K)
    types = du.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
    )
    merged = (
        pairs.join(
            F.broadcast(kmv),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("h")
    topk = merged.withColumn("rn", F.row_number().over(wm)).filter(
        F.col("rn") <= _KMV_K
    )
    ia = kmv.select(F.col("event_type").alias("type_a"), F.col("h").alias("h"))
    ib = kmv.select(F.col("event_type").alias("type_b"), F.col("h").alias("h"))
    frac = (
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)
    )
    stats = (
        topk.join(F.broadcast(ia.withColumn("ina", F.lit(1))), ["type_a", "h"], "left")
        .join(F.broadcast(ib.withColumn("inb", F.lit(1))), ["type_b", "h"], "left")
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.when(F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("both_in_k"),
            F.max(F.when(F.col("rn") == _KMV_K, frac)).alias("kth_frac"),
        )
    )
    exact = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count("*").cast("bigint").alias("exact_common"))
    )
    return stats.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_common",
        F.round(F.col("both_in_k") / F.lit(float(_KMV_K)), 6).alias("jaccard_est"),
        F.round(F.lit(_KMV_K - 1) / F.col("kth_frac"), 2).alias("union_est"),
        F.round(
            F.col("both_in_k") / F.lit(float(_KMV_K)) * (F.lit(_KMV_K - 1) / F.col("kth_frac")),
            2,
        ).alias("common_est"),
    )


# ---------------------------------------------------------------------------
# q149: vocabulary OOV rate against the corpus top-K vocabulary
# ---------------------------------------------------------------------------


@query(
    "q149_vocab_oov",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (
  SELECT w, count(*) AS n FROM toks GROUP BY w),
vocab AS (
  SELECT w FROM freq ORDER BY n DESC, w LIMIT 10),
flagged AS (
  SELECT t.lang, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w)
SELECT lang,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       round(sum(oov) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM flagged GROUP BY lang
""",
    doc="Out-of-vocabulary rate per language against the corpus top-10 "
    "vocabulary (count-desc, token tiebreak) — the tokenizer-coverage "
    "check run before committing a vocab size. Integer counts end-to-end "
    "(one division, rounded). Scale: the vocabulary is a top-K of a "
    "partial-aggregated count (map-side combine absorbs hot tokens) and is "
    "BROADCAST back — the corpus token stream joins a K-row relation, "
    "never shuffles itself.",
)
def q149(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").alias("n"))
    vocab = freq.orderBy(F.col("n").desc(), "w").limit(10).select("w", F.lit(1).alias("iv"))
    flagged = toks.join(F.broadcast(vocab), "w", "left").select(
        "lang", F.when(F.col("iv").isNull(), 1).otherwise(0).alias("oov")
    )
    return flagged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("total_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.round(F.sum("oov") / F.count("*").cast("double"), 6).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# q150: Matryoshka retrieval — truncated-dimension recall evaluation
# ---------------------------------------------------------------------------


def _q150_oracle() -> str:
    trunc = Q40_ORACLE.replace("q.embedding::DOUBLE[]", "(q.embedding[1:16])::DOUBLE[]").replace(
        "c.embedding::DOUBLE[]", "(c.embedding[1:16])::DOUBLE[]"
    )
    return f"""
WITH fullk AS ({Q40_ORACLE}),
trunck AS ({trunc}),
hits AS (
  SELECT fullk.q_id, count(trunck.n_id) AS n_hits
  FROM fullk LEFT JOIN trunck
    ON fullk.q_id = trunck.q_id AND fullk.n_id = trunck.n_id
  GROUP BY fullk.q_id)
SELECT q_id, CAST(n_hits AS BIGINT) AS n_hits,
       round(n_hits / 5.0, 4) AS recall_at_5
FROM hits
"""


@query(
    "q150_matryoshka_recall",
    oracle=_q150_oracle(),
    doc="Matryoshka-embedding evaluation: recall@5 of retrieval using only "
    "the FIRST 16 of 64 dimensions vs the full-dimension ground truth — "
    "the measurement that decides how far a 100 TB index can truncate its "
    "vectors (4× memory/IO reduction) before quality collapses. Both "
    "sides reuse the q40 brute-force plan (rounded-cosine, id tiebreak); "
    "truncation is a zero-copy slice(embedding, 1, 16) at scan time.",
)
def q150(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    trunc = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    full_k = similarity.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)
    trunc_k = similarity.knn_bruteforce(trunc, trunc.filter(F.col("vec_id") < 10), k=5)
    hits = (
        full_k.alias("f")
        .join(
            trunc_k.alias("t"),
            (F.col("f.q_id") == F.col("t.q_id")) & (F.col("f.n_id") == F.col("t.n_id")),
            "left",
        )
        .groupBy(F.col("f.q_id").alias("q_id"))
        .agg(F.count(F.col("t.n_id")).cast("bigint").alias("n_hits"))
    )
    return hits.select(
        "q_id", "n_hits", F.round(F.col("n_hits") / 5.0, 4).alias("recall_at_5")
    )


# ---------------------------------------------------------------------------
# q146: Jensen-Shannon divergence between per-language token distributions
# ---------------------------------------------------------------------------


@query(
    "q146_token_jsd",
    oracle="""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
cnt AS (SELECT lang, w, count(*) AS n FROM toks GROUP BY lang, w),
tot AS (SELECT lang, sum(n) AS t FROM cnt GROUP BY lang),
rel AS (SELECT cnt.lang, cnt.w, cnt.n / CAST(tot.t AS DOUBLE) AS p
        FROM cnt JOIN tot ON tot.lang = cnt.lang),
langs AS (SELECT DISTINCT lang FROM cnt),
pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
          FROM langs a JOIN langs b ON a.lang < b.lang),
vocab AS (SELECT DISTINCT w FROM cnt),
grid AS (SELECT p.lang_a, p.lang_b, v.w FROM pairs p CROSS JOIN vocab v),
pq AS (
  SELECT g.lang_a, g.lang_b, g.w,
         coalesce(ra.p, 0.0) AS p, coalesce(rb.p, 0.0) AS q
  FROM grid g
  LEFT JOIN rel ra ON ra.lang = g.lang_a AND ra.w = g.w
  LEFT JOIN rel rb ON rb.lang = g.lang_b AND rb.w = g.w
  WHERE coalesce(ra.p, 0.0) + coalesce(rb.p, 0.0) > 0),
terms AS (
  SELECT lang_a, lang_b, w,
         0.5 * (CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0.0 END)
       + 0.5 * (CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0.0 END)
           AS term,
         CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END AS shared
  FROM pq),
folded AS (
  SELECT lang_a, lang_b,
         CAST(sum(shared) AS BIGINT) AS n_shared_tokens,
         list(term ORDER BY w) AS ts
  FROM terms GROUP BY lang_a, lang_b)
SELECT lang_a, lang_b, n_shared_tokens,
       -- + 0.0 guards the seedless list_reduce against -0.0 like q144's
       -- entropy fold (benign today — JSD terms are non-negative — but the
       -- hash compare is bit-sensitive, so normalize at the source).
       round(list_reduce(ts, (a, b) -> a + b) + 0.0, 6) AS jsd
FROM folded
""",
    doc="Jensen-Shannon divergence between every language pair's token "
    "distribution — the corpus-drift / source-skew detector a mixture "
    "curator runs before re-weighting (JSD is symmetric and bounded [0,1] "
    "in log2, unlike raw KL). Determinism: per-pair terms are folded in "
    "token-sorted order (identical FP op sequence both engines); the "
    "probabilities are single divisions of exact integer counts. Scale: "
    "token counts partial-aggregate map-side; the pairwise stage runs on "
    "the (langs x vocab) relation — sketch-sized, independent of corpus "
    "row count. With many groups, block the pair grid by vocabulary shard "
    "and sum the per-shard folds.",
)
def q146(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    cnt = toks.groupBy("lang", "w").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("lang").agg(F.sum("n").alias("t"))
    rel = cnt.join(tot, "lang").select(
        "lang", "w", (F.col("n") / F.col("t").cast("double")).alias("p")
    )
    langs = cnt.select("lang").distinct()
    pairs = (
        langs.alias("a")
        .join(langs.alias("b"), F.col("a.lang") < F.col("b.lang"))
        .select(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
    )
    vocab = cnt.select("w").distinct()
    grid = pairs.crossJoin(F.broadcast(vocab))
    ra = rel.select(F.col("lang").alias("lang_a"), "w", F.col("p").alias("pa"))
    rb = rel.select(F.col("lang").alias("lang_b"), "w", F.col("p").alias("pb"))
    pq = (
        grid.join(F.broadcast(ra), ["lang_a", "w"], "left")
        .join(F.broadcast(rb), ["lang_b", "w"], "left")
        .select(
            "lang_a",
            "lang_b",
            "w",
            F.coalesce("pa", F.lit(0.0)).alias("p"),
            F.coalesce("pb", F.lit(0.0)).alias("q"),
        )
        .filter("p + q > 0")
    )
    terms = pq.selectExpr(
        "lang_a",
        "lang_b",
        "w",
        "0.5 * (CASE WHEN p > 0 THEN p * log2(p / ((p + q) / 2)) ELSE 0.0 END)"
        " + 0.5 * (CASE WHEN q > 0 THEN q * log2(q / ((p + q) / 2)) ELSE 0.0 END)"
        " AS term",
        "CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END AS shared",
    )
    folded = terms.groupBy("lang_a", "lang_b").agg(
        F.sum("shared").cast("bigint").alias("n_shared_tokens"),
        F.expr("transform(sort_array(collect_list(struct(w, term))), x -> x.term)").alias(
            "ts"
        ),
    )
    return folded.select(
        "lang_a",
        "lang_b",
        "n_shared_tokens",
        F.expr(
            "round(aggregate(ts, CAST(0.0 AS DOUBLE), (a, b) -> a + b), 6)"
        ).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# q148: Efraimidis-Spirakis weighted reservoir sample (fixed-size,
# without replacement, deterministic)
# ---------------------------------------------------------------------------


def _duck_hex_int(col_sql: str) -> str:
    """DuckDB lacks conv(); integer of the first 8 hex chars via a
    per-nibble horner sum (exact)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substring({col_sql}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


@query(
    "q148_weighted_reservoir",
    oracle=f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         round(ln(({_duck_hex_int("md5(CAST(doc_id AS VARCHAR))")} + 0.5)
                  / 4294967296.0) / n_chars, 12) AS es_key
  FROM documents),
ranked AS (
  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, es_key,
         CAST(row_number() OVER (
             PARTITION BY lang ORDER BY es_key DESC, doc_id) AS BIGINT) AS rank
  FROM keyed)
SELECT lang, rank, doc_id, n_chars, es_key FROM ranked WHERE rank <= 5
""",
    doc="Fixed-size weighted sample WITHOUT replacement per language "
    "(Efraimidis-Spirakis A-Res): each doc draws u from a deterministic "
    "md5 coin and ranks by ln(u)/weight (weight = n_chars, favoring long "
    "docs); the top-5 per group IS the weighted reservoir. Complements "
    "q111 (Bernoulli keep-prob — variable size) and q134 (stratified "
    "rates): this is the exact-k quota sampler. Determinism: u is an "
    "exact dyadic rational ((hash+0.5)/2^32 — never 0), keys round to 12 "
    "dp with doc_id tiebreak, so the SAME docs are chosen on any engine, "
    "partitioning, or re-run. Scale: map-only key computation + "
    "sampling.per_key_topk's salted two-level top-k — the pre-trim ranks "
    "per (lang, salt) cell (shuffle-partition-sized tasks, never a whole "
    "language's corpus slice in one sort) and the merge is a k-bounded "
    "sort_array; the descending es_key order rides the negated column, "
    "row-for-row identical to the single-window spelling.",
)
def q148(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    es_key = F.round(F.log(u) / F.col("n_chars"), 12)
    keyed = d.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        es_key.alias("es_key"),
        (-es_key).alias("neg_key"),
    )
    top = sampling.per_key_topk(
        keyed, ["lang"], ["neg_key", "doc_id"], 5, rank_col="rank"
    )
    return top.select("lang", "rank", "doc_id", "n_chars", "es_key")


# ---------------------------------------------------------------------------
# q151: functional-dependency audit (data-quality profiling)
# ---------------------------------------------------------------------------


@query(
    "q151_fd_audit",
    oracle="""
WITH fd1 AS (
  SELECT l_orderkey AS lhs, count(DISTINCT l_suppkey) AS d
  FROM lineitem GROUP BY l_orderkey),
fd2 AS (
  SELECT o_custkey AS lhs, count(DISTINCT o_orderpriority) AS d
  FROM orders GROUP BY o_custkey),
fd3 AS (
  SELECT l_orderkey * 10 + l_linenumber AS lhs, count(*) AS d
  FROM lineitem GROUP BY l_orderkey, l_linenumber)
SELECT 'lineitem: l_orderkey -> l_suppkey' AS fd,
       CAST(count(*) AS BIGINT) AS lhs_groups,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
       round(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS violation_rate,
       CAST(max(d) AS BIGINT) AS max_rhs_distinct
FROM fd1
UNION ALL
SELECT 'orders: o_custkey -> o_orderpriority',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
       CAST(max(d) AS BIGINT)
FROM fd2
UNION ALL
SELECT 'lineitem: (l_orderkey, l_linenumber) is key',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6),
       CAST(max(d) AS BIGINT)
FROM fd3
""",
    doc="Functional-dependency audit — the data-quality profile beyond "
    "q118's per-column stats: for candidate FDs X -> Y, the number of X "
    "groups carrying more than one Y (violations), plus a composite-key "
    "uniqueness check. The ingest gate that catches silent grain changes "
    "(an orderkey suddenly mapping to two suppliers) before they corrupt "
    "joins downstream. Each FD is ONE partial-aggregated groupBy + a "
    "1-row rollup; integer outputs end-to-end. At 100 TB, distinct-per-"
    "group swaps to approx_count_distinct per group with exact re-check "
    "on flagged groups only.",
)
def q151(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def audit(grouped, fd_name):
        return grouped.agg(
            F.count("*").cast("bigint").alias("lhs_groups"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("violating_groups"),
            F.round(
                F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("violation_rate"),
            F.max("d").cast("bigint").alias("max_rhs_distinct"),
        ).select(F.lit(fd_name).alias("fd"), "*")

    fd1 = audit(
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("d"))
        .groupBy(),
        "lineitem: l_orderkey -> l_suppkey",
    )
    fd2 = audit(
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("d"))
        .groupBy(),
        "orders: o_custkey -> o_orderpriority",
    )
    fd3 = audit(
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("d"))
        .groupBy(),
        "lineitem: (l_orderkey, l_linenumber) is key",
    )
    return fd1.unionByName(fd2).unionByName(fd3)


# ---------------------------------------------------------------------------
# q152: exact-substring duplication spans (suffix-array dedup, shuffle-native)
# ---------------------------------------------------------------------------


@query(
    "q152_dup_spans",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id, source, len(ws) AS n, pos,
         array_to_string(ws[pos + 1:pos + 8], ' ') AS gram
  FROM (SELECT doc_id, source, ws, unnest(range(0, len(ws) - 7)) AS pos
        FROM toks WHERE len(ws) >= 8) t),
dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
hits AS (
  SELECT doc_id, source, n, pos AS s, pos + 8 AS e
  FROM g WHERE gram IN (SELECT gram FROM dupg)),
m AS (
  SELECT doc_id, source, n, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM hits),
sid AS (
  SELECT doc_id, source, n, s, e,
         sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM m),
merged AS (
  SELECT doc_id, source, n, min(s) AS ms, max(e) AS me
  FROM sid GROUP BY doc_id, source, n, span_id),
perdoc AS (
  SELECT doc_id, source, n, count(*) AS n_spans, sum(me - ms) AS covered
  FROM merged GROUP BY doc_id, source, n)
SELECT source,
       CAST(count(*) AS BIGINT) AS docs_with_dups,
       CAST(sum(n_spans) AS BIGINT) AS total_spans,
       CAST(sum(covered) AS BIGINT) AS covered_tokens,
       round(sum(covered) / CAST(sum(n) AS DOUBLE), 6) AS dup_token_frac
FROM perdoc GROUP BY source
""",
    doc="Exact-substring duplication audit (suffix-array dedup a la Lee et "
    "al., shuffle-native): operators/dedup.duplicated_spans finds every "
    "maximal token span whose 8-gram runs also occur elsewhere in the "
    "corpus, merging overlapping gram hits into intervals via a per-doc "
    "running-max window; this query rolls the spans up per source "
    "(affected docs, merged spans, covered tokens, duplicated-token "
    "fraction). Complements q100 (membership decontamination: WHICH docs "
    "contain test n-grams) and q131 (sentence-level boilerplate) — this "
    "localizes WHERE the duplication lives so the spans can be cut out "
    "rather than the doc dropped. Determinism: integer token indices "
    "end-to-end, one final division. Scale: grams shuffle as 8-byte "
    "xxhash64 keys (the oracle groups the gram strings — identical modulo "
    "2^-64 collisions), the duplicated-gram set after the HAVING filter "
    "is a small fraction of the corpus, and the interval merge windows "
    "per doc_id — bounded by doc length, no global sort.",
)
def q152(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.dedup import duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    spans = duplicated_spans(d, "doc_id", "text", k=8)
    perdoc = (
        spans.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("doc_id", "source", "n_tokens")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start")).alias("covered"),
        )
    )
    return perdoc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs_with_dups"),
        F.sum("n_spans").cast("bigint").alias("total_spans"),
        F.sum("covered").cast("bigint").alias("covered_tokens"),
        F.round(F.sum("covered") / F.sum("n_tokens").cast("double"), 6).alias(
            "dup_token_frac"
        ),
    )

