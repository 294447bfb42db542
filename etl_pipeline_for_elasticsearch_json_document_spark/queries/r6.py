"""Round-6 query registrations: Bloom-filter decontamination (with
measured false-positive cost vs the exact check), CCNet-style line-level
dedup with document REASSEMBLY, a character-bigram language-model quality
score (perplexity-proxy filter), Zipf-slope corpus statistics,
normalization-aware exact dedup, and incremental (new-batch-vs-corpus)
ingestion dedup.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring). Floating-point outputs are either single
divisions of exact integer/decimal aggregates or DECIMAL sums of
pre-rounded 6-dp terms (a rounded 6-dp double is exactly representable in
DECIMAL(18,6), so the sum is exact and partition-order-independent) —
never raw double sums.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.queries import lsh_oracle
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q153: Bloom-filter decontamination with measured false-positive cost
# ---------------------------------------------------------------------------

_BLOOM_M = 4096  # bits
# k=3 hash positions = three disjoint 8-hex slices of the gram's md5,
# reduced mod m — the standard multi-hash construction, derived from one
# digest (no per-hash rehashing of the text)
_BLOOM_POS_SPARK = [
    f"pmod(conv(substring(gh, {1 + 8 * j}, 8), 16, 10), {_BLOOM_M})" for j in range(3)
]
_BLOOM_POS_DUCK = [
    f"CAST(('0x' || substring(gh, {1 + 8 * j}, 8)) AS BIGINT) % {_BLOOM_M}"
    for j in range(3)
]


@query(
    "q153_bloom_decontaminate",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS gram
      FROM toks),
h AS (SELECT doc_id, source, md5(gram) AS gh FROM g),
te AS (SELECT DISTINCT gh FROM h WHERE doc_id % 10 = 0),
bits AS (SELECT DISTINCT p FROM (
           SELECT {_BLOOM_POS_DUCK[0]} AS p FROM te
           UNION ALL SELECT {_BLOOM_POS_DUCK[1]} FROM te
           UNION ALL SELECT {_BLOOM_POS_DUCK[2]} FROM te)),
tr AS (
  SELECT doc_id, source,
         max(CASE WHEN {_BLOOM_POS_DUCK[0]} IN (SELECT p FROM bits)
                   AND {_BLOOM_POS_DUCK[1]} IN (SELECT p FROM bits)
                   AND {_BLOOM_POS_DUCK[2]} IN (SELECT p FROM bits)
              THEN 1 ELSE 0 END) AS bloom_hit,
         max(CASE WHEN gh IN (SELECT gh FROM te) THEN 1 ELSE 0 END) AS exact_hit
  FROM h WHERE doc_id % 10 <> 0 GROUP BY doc_id, source)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_train_docs,
       CAST(sum(bloom_hit) AS BIGINT) AS bloom_flagged,
       CAST(sum(exact_hit) AS BIGINT) AS exact_flagged,
       CAST(sum(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS false_positives
FROM tr GROUP BY source
""",
    doc="Decontamination via a Bloom filter of the held-out set's word "
    "5-grams (m=4096 bits, k=3 md5-slice hashes), with the exact-membership "
    "check run alongside so the FALSE-POSITIVE price of the sketch is "
    "measured, not assumed — the go/no-go report before swapping the exact "
    "semi-join for a bloom at scale. Scale: the bit set is ≤m rows and "
    "BROADCAST (a real bitset is m/8 bytes — the relation here keeps the "
    "oracle exact); the train corpus reduces to (doc, gram-hash) postings "
    "map-side and never shuffles text; membership tests are broadcast "
    "joins. Contrast q100 (exact n-gram join) and q110 (MinHash fuzzy): "
    "bloom trades a tunable FP rate for an O(m) memory footprint "
    "independent of test-set size.",
)
def q153(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 4, 0)),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i, 5)))"
                )
            )
        ).alias("gram"),
    ).select("doc_id", "source", F.md5("gram").alias("gh"))
    te = grams.filter(F.col("doc_id") % 10 == 0).select("gh").distinct()
    pos_cols = [F.expr(p) for p in _BLOOM_POS_SPARK]
    bits = (
        te.select(F.explode(F.array(*pos_cols)).alias("p")).distinct()
    )
    tr = grams.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        "source",
        "gh",
        *[F.expr(p).alias(f"p{j}") for j, p in enumerate(_BLOOM_POS_SPARK)],
    )
    # three broadcast membership probes = the bitset lookups; a gram is
    # bloom-positive only when ALL k positions are set
    for j in range(3):
        tr = tr.join(
            F.broadcast(bits.withColumnRenamed("p", f"p{j}").withColumn(f"b{j}", F.lit(1))),
            f"p{j}",
            "left",
        )
    tr = tr.join(
        F.broadcast(te.withColumn("ex", F.lit(1))), "gh", "left"
    )
    flags = tr.groupBy("doc_id", "source").agg(
        F.max(
            F.when(
                F.col("b0").isNotNull() & F.col("b1").isNotNull() & F.col("b2").isNotNull(),
                1,
            ).otherwise(0)
        ).alias("bloom_hit"),
        F.max(F.when(F.col("ex").isNotNull(), 1).otherwise(0)).alias("exact_hit"),
    )
    return flags.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_train_docs"),
        F.sum("bloom_hit").cast("bigint").alias("bloom_flagged"),
        F.sum("exact_hit").cast("bigint").alias("exact_flagged"),
        F.sum(F.when((F.col("bloom_hit") == 1) & (F.col("exact_hit") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("false_positives"),
    )


# ---------------------------------------------------------------------------
# q154: CCNet-style line-level dedup with document reassembly
# ---------------------------------------------------------------------------


@query(
    "q154_line_dedup_rebuild",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
seg AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i*12+1:i*12+12], ' ') AS s
  FROM w, unnest(range(0, CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)),
fp AS (SELECT doc_id, pos, s, md5(lower(s)) AS f FROM seg),
boiler AS (SELECT f FROM fp GROUP BY f HAVING count(DISTINCT doc_id) >= 3),
marked AS (
  SELECT doc_id, pos, s,
         CASE WHEN f IN (SELECT f FROM boiler) THEN 0 ELSE 1 END AS keep
  FROM fp)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       round(sum(keep) / CAST(count(*) AS DOUBLE), 6) AS kept_ratio,
       md5(coalesce(array_to_string(
           list(CASE WHEN keep = 1 THEN s END ORDER BY pos) FILTER (WHERE keep = 1),
           ' '), '')) AS rebuilt_md5
FROM marked GROUP BY doc_id
""",
    doc="CCNet-style segment-level dedup WITH REASSEMBLY: 12-word segments "
    "whose normalized fingerprint appears in ≥3 distinct docs (corpus "
    "boilerplate — headers, navigation, legal footers) are cut, and each "
    "document is REBUILT from its kept segments in position order (md5 of "
    "the rebuilt text pins byte-exact reassembly). q38 only reports the "
    "duplicated fingerprints; this is the operator that actually edits the "
    "corpus. Scale: segments shuffle as (doc_id, pos, 16-byte fp); the "
    "boilerplate set is a groupBy on fps (map-side combined) and lives as "
    "16-byte keys; reassembly is one per-doc sort of kept segments — "
    "bounded by doc length, never cross-doc.",
)
def q154(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(ws) / F.lit(12.0)).cast("long")
    idx = F.when(n_seg > 0, F.sequence(F.lit(0).cast("long"), n_seg - 1)).otherwise(
        F.array().cast("array<long>")
    )
    seg = d.select(
        "doc_id",
        F.posexplode(
            F.transform(idx, lambda i: F.array_join(F.slice(ws, (i * 12 + 1).cast("int"), 12), " "))
        ).alias("pos", "s"),
    ).withColumn("f", F.md5(F.lower(F.col("s"))))
    boiler = (
        seg.groupBy("f")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("f")
    )
    marked = seg.join(
        F.broadcast(boiler.withColumn("hit", F.lit(1))), "f", "left"
    ).withColumn("keep", F.when(F.col("hit").isNotNull(), 0).otherwise(1))
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.round(F.sum("keep") / F.count("*").cast("double"), 6).alias("kept_ratio"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep") == 1, F.struct("pos", "s"))
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            )
        ).alias("rebuilt_md5"),
    )


# ---------------------------------------------------------------------------
# q155: character-bigram LM quality score (perplexity-proxy filter)
# ---------------------------------------------------------------------------


@query(
    "q155_char_lm_score",
    oracle="""
WITH bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, length(text)), i -> substring(text, i, 2))) AS b
  FROM documents WHERE length(text) >= 2),
cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
ctx AS (SELECT substring(b, 1, 1) AS c1, sum(c) AS t FROM cnt GROUP BY c1),
lp AS (SELECT b, round(log2(c / CAST(t AS DOUBLE)), 6) AS logp
       FROM cnt JOIN ctx ON substring(b, 1, 1) = c1),
docsc AS (
  SELECT doc_id, lang,
         round(CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS score
  FROM bg JOIN lp USING (b) GROUP BY doc_id, lang)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_logp,
       round(min(score), 6) AS min_logp,
       round(max(score), 6) AS max_logp
FROM docsc GROUP BY lang
""",
    doc="Character-bigram language-model scoring — the classic KenLM-style "
    "perplexity-proxy quality filter, self-trained on the corpus: per-doc "
    "mean log2 P(c2|c1), rolled up by language (junk/binary text scores "
    "far below the language's band). Determinism: each bigram's logp is "
    "rounded to 6dp FIRST (exactly representable in DECIMAL(18,6)), so "
    "per-doc and per-lang sums are exact decimal adds — "
    "partition-order-independent with no ordered fold needed. Scale: the "
    "model is alphabet² rows (broadcast); docs reduce to (doc, bigram) "
    "pairs joined map-side; one partial-agg per doc then per lang.",
)
def q155(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
        ).alias("b"),
    )
    cnt = bg.groupBy("b").agg(F.count("*").alias("c"))
    ctx = cnt.groupBy(F.substring("b", 1, 1).alias("c1")).agg(F.sum("c").alias("t"))
    lp = cnt.join(ctx, F.substring(F.col("b"), 1, 1) == F.col("c1")).select(
        "b", F.round(F.log2(F.col("c") / F.col("t").cast("double")), 6).alias("logp")
    )
    docsc = (
        bg.join(F.broadcast(lp), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum(F.col("logp").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("score")
        )
    )
    return docsc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_logp"),
        F.round(F.min("score"), 6).alias("min_logp"),
        F.round(F.max("score"), 6).alias("max_logp"),
    )


# ---------------------------------------------------------------------------
# q156: Zipf-slope corpus statistic
# ---------------------------------------------------------------------------


@query(
    "q156_zipf_slope",
    oracle="""
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT lang, w, count(*) AS c FROM tok WHERE w <> '' GROUP BY lang, w),
ranked AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS r
  FROM freq),
pts AS (
  SELECT lang,
         CAST(round(ln(r), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(c), 6) AS DECIMAL(18,6)) AS y
  FROM ranked WHERE r <= 50),
m AS (
  SELECT lang, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts GROUP BY lang)
SELECT lang, CAST(n AS BIGINT) AS n_points,
       round(CAST((n * sxy - sx * sy) AS DOUBLE)
             / CAST((n * sxx - sx * sx) AS DOUBLE), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE) - CAST((n * sxy - sx * sy) AS DOUBLE)
             / CAST((n * sxx - sx * sx) AS DOUBLE) * CAST(sx AS DOUBLE)) / n, 6)
         AS intercept
FROM m
""",
    doc="Zipf's-law slope per language: least-squares fit of ln(freq) vs "
    "ln(rank) over the top-50 tokens — natural corpora sit near slope −1; "
    "a flat or cliff-shaped curve flags template/machine-generated text. "
    "Determinism: ln values are rounded to 6dp then summed as DECIMALs "
    "(exact, order-free); the slope is a single double expression over "
    "those exact moments — the q129 exact-moment-regression pattern. "
    "Scale: per-lang token counts partial-aggregate map-side; the "
    "top-50 per lang comes from sampling.per_key_topk's salted "
    "two-level top-k (r10 — no task ever sorts a whole language's "
    "vocabulary); only langs×50 rows reach the fit.",
)
def q156(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sampling

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w")).filter(
        F.col("w") != ""
    )
    freq = tok.groupBy("lang", "w").agg(F.count("*").alias("c"))
    pts = (
        sampling.per_key_topk(
            freq.withColumn("negc", -F.col("c")), ["lang"], ["negc", "w"], 50,
            rank_col="r",
        )
        .select(
            "lang",
            F.round(F.log(F.col("r").cast("double")), 6).cast("decimal(18,6)").alias("x"),
            F.round(F.log(F.col("c").cast("double")), 6).cast("decimal(18,6)").alias("y"),
        )
    )
    m = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.select(
        "lang",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n"), 6
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# q157: normalization-aware exact dedup
# ---------------------------------------------------------------------------


@query(
    "q157_normalized_dedup",
    oracle="""
WITH n AS (
  SELECT doc_id, source,
         md5(text) AS rh,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS nh
  FROM documents),
r AS (SELECT doc_id, source,
             CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY rh) THEN 1 ELSE 0 END AS raw_dup,
             CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY nh) THEN 1 ELSE 0 END AS norm_dup
      FROM n)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(raw_dup) AS BIGINT) AS raw_dups,
       CAST(sum(norm_dup) AS BIGINT) AS norm_dups,
       CAST(sum(norm_dup) - sum(raw_dup) AS BIGINT) AS extra_caught
FROM r GROUP BY source
""",
    doc="Normalization-aware exact dedup: documents hashed RAW and after "
    "casefold + punctuation-strip + whitespace-collapse; per source, how "
    "many docs each hash level would remove (keep = min doc_id per group). "
    "extra_caught is the yield of normalizing before hashing — trivial "
    "reformattings (case, punctuation, spacing) that raw md5 dedup (q30) "
    "misses. Scale: map-only normalize, two 16-byte-key groupBys "
    "(window-over-hash here ≡ groupBy+join at scale); text never shuffles.",
)
def q157(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    n = d.select(
        "doc_id", "source", F.md5("text").alias("rh"), F.md5(norm).alias("nh")
    )
    r = n.select(
        "source",
        F.when(F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("rh")), 1)
        .otherwise(0)
        .alias("raw_dup"),
        F.when(F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("nh")), 1)
        .otherwise(0)
        .alias("norm_dup"),
    )
    return r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("raw_dup").cast("bigint").alias("raw_dups"),
        F.sum("norm_dup").cast("bigint").alias("norm_dups"),
        (F.sum("norm_dup") - F.sum("raw_dup")).cast("bigint").alias("extra_caught"),
    )


# ---------------------------------------------------------------------------
# q158: incremental (new-batch-vs-corpus) ingestion dedup
# ---------------------------------------------------------------------------


@query(
    "q158_incremental_dedup",
    oracle="""
WITH h AS (SELECT doc_id, source, md5(text) AS fp,
                  doc_id % 5 = 4 AS incoming
           FROM documents),
corpus AS (SELECT DISTINCT fp FROM h WHERE NOT incoming),
inc AS (
  SELECT doc_id, source, fp,
         fp IN (SELECT fp FROM corpus) AS in_corpus,
         doc_id <> min(doc_id) OVER (PARTITION BY fp) AS later_in_batch
  FROM h WHERE incoming)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_incoming,
       CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) AS dropped_vs_corpus,
       CAST(sum(CASE WHEN NOT in_corpus AND later_in_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_within_batch,
       CAST(sum(CASE WHEN NOT in_corpus AND NOT later_in_batch THEN 1 ELSE 0 END) AS BIGINT)
         AS ingested
FROM inc GROUP BY source
""",
    doc="Incremental ingestion dedup — the shape every CONTINUOUSLY-FED "
    "training corpus needs: an incoming batch (doc_id%5=4 here) is checked "
    "against the existing corpus's content hashes, then within itself "
    "(first occurrence wins); each incoming doc is classified "
    "dropped-vs-corpus / dropped-within-batch / ingested. Scale: the "
    "corpus side reduces to DISTINCT 16-byte fps ONCE (at 100 TB this is "
    "the persisted fingerprint index a real pipeline maintains — or q153's "
    "bloom in front of it); the batch side is small and its window is "
    "per-fp. Precedence is deterministic: corpus match outranks "
    "within-batch.",
)
def q158(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "source", F.md5("text").alias("fp"), (F.col("doc_id") % 5 == 4).alias("incoming")
    )
    corpus = h.filter(~F.col("incoming")).select("fp").distinct()
    inc = (
        h.filter(F.col("incoming"))
        .join(corpus.withColumn("in_corpus", F.lit(True)), "fp", "left")
        .withColumn("in_corpus", F.coalesce(F.col("in_corpus"), F.lit(False)))
        .withColumn(
            "later_in_batch",
            F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("fp")),
        )
    )
    return inc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_incoming"),
        F.sum(F.when(F.col("in_corpus"), 1).otherwise(0)).cast("bigint").alias("dropped_vs_corpus"),
        F.sum(F.when(~F.col("in_corpus") & F.col("later_in_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("dropped_within_batch"),
        F.sum(F.when(~F.col("in_corpus") & ~F.col("later_in_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("ingested"),
    )


# ---------------------------------------------------------------------------
# q159: recursive CTE (Spark 4 SQL surface) — ancestor walk aggregation
# ---------------------------------------------------------------------------


@query(
    "q159_recursive_cte",
    oracle="""
WITH RECURSIVE walk AS (
  SELECT doc_id AS start_id, doc_id AS cur, CAST(0 AS BIGINT) AS depth
  FROM documents
  UNION ALL
  SELECT start_id, cur // 2, depth + 1 FROM walk WHERE cur > 1
)
SELECT depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(start_id) AS BIGINT) AS sum_start,
       CAST(sum(cur) AS BIGINT) AS sum_cur
FROM walk GROUP BY depth
""",
    doc="Recursive CTE via the Spark 4 SQL surface (WITH RECURSIVE, "
    "SPARK-24497): every doc walks its binary-tree ancestor chain "
    "(parent = id div 2) to the root, and the walk relation is aggregated "
    "per depth — the fixpoint-iteration shape (org charts, BOM explosions, "
    "reachability) that q48/q122 hand-roll as iterative joins, now "
    "expressed declaratively and executed by the engine's own recursion "
    "operator. Pure integer arithmetic — no float drift. Scale: each "
    "iteration is a map of the frontier (no join needed here); depth is "
    "log2(max id), so ~45 rounds at 100 TB id ranges; the aggregate is a "
    "partial-agg groupBy on a log2-sized key space.",
)
def q159(spark, sf_dir):
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("q159_documents")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT doc_id AS start_id, doc_id AS cur, CAST(0 AS BIGINT) AS depth
          FROM q159_documents
          UNION ALL
          SELECT start_id, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
        )
        SELECT depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(start_id) AS BIGINT) AS sum_start,
               CAST(sum(cur) AS BIGINT) AS sum_cur
        FROM walk GROUP BY depth
        """
    )


# ---------------------------------------------------------------------------
# q160: lateral join — per-customer top-2 orders via correlated subquery
# ---------------------------------------------------------------------------


@query(
    "q160_lateral_topn",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.price, o.rn
FROM customer c, LATERAL (
  SELECT o_orderkey, round(o_totalprice, 2) AS price,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
WHERE c.c_acctbal > 9000
""",
    doc="LATERAL correlated subquery (Spark 3.4+ lateral join SQL "
    "surface): top-2 orders per high-balance customer, the subquery "
    "re-evaluated per outer row — the SQL-standard spelling of "
    "top-n-per-group that q10 expresses with a window. The optimizer "
    "decorrelates to a ranked join rather than per-row re-execution. "
    "Scale: decorrelation means one shuffle on the join key; the LIMIT "
    "inside the lateral bounds per-key state exactly like the window "
    "top-k.",
)
def q160(spark, sf_dir):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q160_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q160_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.price, o.rn
        FROM q160_customer c, LATERAL (
          SELECT o_orderkey, round(o_totalprice, 2) AS price,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM q160_orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_acctbal > 9000
        """
    )


# ---------------------------------------------------------------------------
# q161: contrastive hard-negative mining
# ---------------------------------------------------------------------------


@query(
    "q161_hard_negatives",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS q_label
           FROM embeddings WHERE vec_id % 37 = 0),
scored AS (
  SELECT q.q_id, q.q_label, c.vec_id AS n_id, c.label AS n_label,
         round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
  FROM q JOIN embeddings c ON c.vec_id <> q.q_id),
wp AS (
  SELECT *, max(CASE WHEN n_label = q_label THEN cos END)
              OVER (PARTITION BY q_id) AS pos_cos
  FROM scored)
SELECT q_id, n_id, cos AS neg_cos, rank, pos_cos,
       round(pos_cos - cos, 6) AS margin
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM wp WHERE n_label <> q_label)
WHERE rank <= 3
""",
    doc="Contrastive hard-negative mining (operators/similarity.py::"
    "hard_negatives): for each sampled query vector, the 3 most-similar "
    "DIFFERENT-label vectors — the negatives a contrastive embedding "
    "trainer most needs — plus the query's best same-label cosine and the "
    "pos-neg margin (a small or negative margin marks the queries whose "
    "class boundary is genuinely hard). One broadcast scoring pass; the "
    "positive is a conditional window max over the same scored relation, "
    "so no second scan. Scale: query side broadcast, corpus streams "
    "map-side; swap the scorer for the IVF/LSH shortlist (q41/q42) when "
    "the corpus no longer fits one pass.",
)
def q161(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, emb.filter(F.col("vec_id") % 37 == 0), k=3)


# ---------------------------------------------------------------------------
# q162: quality-rule attrition funnel
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = [
    ("1_too_few_tokens", "n_tok < 20"),
    ("2_word_len_band", "mwl < 4.0 OR mwl > 10.0"),
    ("3_symbol_heavy", "sym_ratio > 0.05"),
    ("4_digit_heavy", "digit_ratio > 0.15"),
    ("5_repetitive", "distinct_ratio < 0.5"),
]

_FUNNEL_SPINE = ", ".join(
    f"('{name}')" for name, _ in _FUNNEL_STAGES + [("6_survived", "")]
)


@query(
    "q162_quality_funnel",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mwl,
         (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
           / CAST(length(text) AS DOUBLE) AS sym_ratio,
         (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           / CAST(length(text) AS DOUBLE) AS digit_ratio,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
  FROM documents WHERE length(text) > 0),
staged AS (
  SELECT CASE
           WHEN {_FUNNEL_STAGES[0][1]} THEN '{_FUNNEL_STAGES[0][0]}'
           WHEN {_FUNNEL_STAGES[1][1]} THEN '{_FUNNEL_STAGES[1][0]}'
           WHEN {_FUNNEL_STAGES[2][1]} THEN '{_FUNNEL_STAGES[2][0]}'
           WHEN {_FUNNEL_STAGES[3][1]} THEN '{_FUNNEL_STAGES[3][0]}'
           WHEN {_FUNNEL_STAGES[4][1]} THEN '{_FUNNEL_STAGES[4][0]}'
           ELSE '6_survived' END AS stage
  FROM m),
cnt AS (SELECT stage, count(*) AS n FROM staged GROUP BY stage)
SELECT sp.stage,
       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_docs,
       round(coalesce(cnt.n, 0) / CAST((SELECT count(*) FROM staged) AS DOUBLE), 6)
         AS share
FROM (VALUES {_FUNNEL_SPINE}) AS sp(stage) LEFT JOIN cnt USING (stage)
""",
    doc="Gopher/C4-style quality-rule ATTRITION FUNNEL: five filter rules "
    "(token count, mean word length, symbol ratio, digit ratio, "
    "distinct-token ratio) applied in precedence order, reporting how many "
    "docs each rule removes FIRST — the per-rule attrition report every "
    "curation run publishes before committing a filter config (a rule that "
    "removes 40% gets re-tuned, not shipped). Rules that remove ZERO docs "
    "still appear (a static stage spine left-joins the counts): a silent "
    "rule is information, not absence. All metrics are single "
    "integer-ratio divisions (identical IEEE doubles on any engine). "
    "Scale: map-only metric computation, one partial-agg groupBy on a "
    "6-value key; the denominator is a broadcast 1-row count.",
)
def q162(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split(F.col("text"), " ")
    n_tok = F.size(ws)
    m = d.select(
        n_tok.alias("n_tok"),
        (F.length(F.regexp_replace(F.col("text"), " ", "")) / n_tok.cast("double")).alias("mwl"),
        (
            (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")))
            / F.length("text").cast("double")
        ).alias("sym_ratio"),
        (
            (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", "")))
            / F.length("text").cast("double")
        ).alias("digit_ratio"),
        (F.size(F.array_distinct(ws)) / n_tok.cast("double")).alias("distinct_ratio"),
    )
    stage = F.when(F.col("n_tok") < 20, _FUNNEL_STAGES[0][0])
    stage = stage.when((F.col("mwl") < 4.0) | (F.col("mwl") > 10.0), _FUNNEL_STAGES[1][0])
    stage = stage.when(F.col("sym_ratio") > 0.05, _FUNNEL_STAGES[2][0])
    stage = stage.when(F.col("digit_ratio") > 0.15, _FUNNEL_STAGES[3][0])
    stage = stage.when(F.col("distinct_ratio") < 0.5, _FUNNEL_STAGES[4][0])
    staged = m.select(stage.otherwise("6_survived").alias("stage"))
    total = staged.agg(F.count("*").alias("tot"))
    spine = spark.createDataFrame(
        [(name,) for name, _ in _FUNNEL_STAGES] + [("6_survived",)], "stage string"
    )
    cnt = staged.groupBy("stage").agg(F.count("*").alias("n"))
    return (
        spine.join(cnt, "stage", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "stage",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)) / F.col("tot").cast("double"), 6
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q163: shuffle-key skew audit
# ---------------------------------------------------------------------------


@query(
    "q163_key_skew_audit",
    oracle="""
WITH u AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
t AS (SELECT event_type AS k FROM events),
stats AS (
  SELECT 'user_id' AS key_col, k, count(*) AS cnt FROM u GROUP BY k
  UNION ALL
  SELECT 'event_type', k, count(*) FROM t GROUP BY k),
ranked AS (
  SELECT key_col, cnt,
         row_number() OVER (PARTITION BY key_col ORDER BY cnt DESC, k) AS r
  FROM stats)
SELECT key_col,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS total_rows,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST(min(cnt) AS BIGINT) AS min_cnt,
       round(max(cnt) / (sum(cnt) / CAST(count(*) AS DOUBLE)), 6) AS skew_factor,
       round(sum(CASE WHEN r = 1 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6)
         AS top1_share,
       round(sum(CASE WHEN r <= 10 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6)
         AS top10_share
FROM ranked GROUP BY key_col
""",
    doc="Shuffle-key skew audit: for each candidate partition key "
    "(user_id, event_type), per-key counts reduced to n_keys / max / min "
    "/ skew factor (max over mean) and top-1/top-10 cumulative share — "
    "the pre-shuffle planning report that decides whether a join or "
    "groupBy on that key needs salting (q133) or AQE skew handling BEFORE "
    "the 100 TB run, not after it spills. Scale: per-key counts "
    "partial-aggregate map-side; the totals (n_keys/sum/max/min) reduce "
    "map-side with no ranking at all; only the top-1/top-10 shares need "
    "ranks, computed with sampling.per_key_topk's salted two-level top-k "
    "— the per-key-count relation is |distinct user_ids| rows and never "
    "funnels through one task per key_col value.",
)
def q163(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sampling

    ev = load_table(spark, sf_dir, "events")
    stats = (
        ev.select(F.col("user_id").cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("user_id").alias("key_col"), "k", "cnt")
        .unionByName(
            ev.select(F.col("event_type").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("event_type").alias("key_col"), "k", "cnt")
        )
    )
    base = stats.groupBy("key_col").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.min("cnt").cast("bigint").alias("min_cnt"),
    )
    top = sampling.per_key_topk(
        stats.withColumn("neg", -F.col("cnt")),
        ["key_col"],
        ["neg", "k"],
        10,
        rank_col="r",
    )
    shares = top.groupBy("key_col").agg(
        F.sum(F.when(F.col("r") == 1, F.col("cnt")).otherwise(0)).alias("top1"),
        F.sum("cnt").alias("top10"),
    )
    return base.join(shares, "key_col").select(
        "key_col",
        "n_keys",
        "total_rows",
        "max_cnt",
        "min_cnt",
        F.round(
            F.col("max_cnt") / (F.col("total_rows") / F.col("n_keys").cast("double")),
            6,
        ).alias("skew_factor"),
        F.round(F.col("top1") / F.col("total_rows").cast("double"), 6).alias(
            "top1_share"
        ),
        F.round(F.col("top10") / F.col("total_rows").cast("double"), 6).alias(
            "top10_share"
        ),
    )


# ---------------------------------------------------------------------------
# q164: deterministic epoch shuffle / shard manifest
# ---------------------------------------------------------------------------


@query(
    "q164_epoch_shards",
    oracle="""
WITH h AS (
  SELECT doc_id, n_chars, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS hh
  FROM documents),
s AS (SELECT doc_id, n_chars, hh,
             CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8 AS shard
      FROM h)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY hh)) AS order_md5
FROM s GROUP BY shard
""",
    doc="Deterministic training-epoch shuffle: every doc is assigned a "
    "shard and a within-shard position by md5('epoch1:'||id) — a "
    "reproducible global permutation (change the epoch tag, get an "
    "independent permutation) with NO rand() and no engine/partitioning "
    "dependence. The output is the shard MANIFEST a trainer consumes: "
    "per-shard doc count, token mass (balance check), and the md5 of the "
    "full within-shard id sequence, which pins the exact permutation "
    "cross-engine. Scale: map-only hash + one groupBy on the shard id; "
    "at 100 TB the manifest hash swaps for writing the permuted shards "
    "directly via repartitionByRange(shard, hh) — same keys, same order.",
)
def q164(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))).alias("hh"),
    ).withColumn(
        "shard", F.expr("pmod(conv(substring(hh, 1, 8), 16, 10), 8)").cast("bigint")
    )
    return s.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hh", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
                ",",
            )
        ).alias("order_md5"),
    )


# ---------------------------------------------------------------------------
# q165: vocabulary coverage curve
# ---------------------------------------------------------------------------


@query(
    "q165_vocab_coverage",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, count(*) AS c FROM tok WHERE w <> '' GROUP BY w),
ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM freq),
tot AS (SELECT sum(c) AS total_tokens, count(*) AS n_distinct FROM ranked)
SELECT k,
       CAST(least(k, (SELECT n_distinct FROM tot)) AS BIGINT) AS vocab_size,
       CAST((SELECT sum(c) FROM ranked WHERE r <= k) AS BIGINT) AS covered_tokens,
       CAST((SELECT total_tokens FROM tot) AS BIGINT) AS total_tokens,
       round((SELECT sum(c) FROM ranked WHERE r <= k)
             / CAST((SELECT total_tokens FROM tot) AS DOUBLE), 6) AS covered_share
FROM (VALUES (100), (1000), (5000)) AS ks(k)
""",
    doc="Vocabulary coverage curve: share of all token OCCURRENCES covered "
    "by the top-K most frequent types, for K in {100, 1000, 5000} — the "
    "vocab-size planning curve behind every closed-vocab tokenizer / "
    "OOV-budget decision (pairs with q149's fixed-vocab OOV check). "
    "Scale: token counts partial-aggregate map-side; the ranked relation "
    "is vocabulary-sized, the curve is 3 conditional sums over it. "
    "Integer counts + single divisions — engine-exact.",
)
def q165(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w")))
    )
    ks = spark.createDataFrame([(100,), (1000,), (5000,)], "k int")
    stats = ranked.agg(
        F.sum("c").alias("total_tokens"), F.count("*").alias("n_distinct")
    )
    per_k = (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("r") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("c").alias("covered_tokens"))
    )
    return (
        ks.join(per_k, "k", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "k",
            F.least(F.col("k").cast("bigint"), F.col("n_distinct")).alias("vocab_size"),
            F.col("covered_tokens").cast("bigint").alias("covered_tokens"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("covered_share"),
        )
    )


# ---------------------------------------------------------------------------
# q166: cross-source duplication overlap matrix
# ---------------------------------------------------------------------------


@query(
    "q166_source_overlap",
    oracle="""
WITH g AS (
  SELECT DISTINCT source,
         md5(array_to_string(ws[i:i+7], ' ')) AS fp
  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents) t,
       unnest(range(1, len(ws) - 6)) AS u(i)),
per_src AS (SELECT source, count(*) AS n_fps FROM g GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
  FROM g a JOIN g b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.src_a, p.src_b,
       CAST(p.shared AS BIGINT) AS shared_fps,
       CAST(pa.n_fps AS BIGINT) AS fps_a,
       CAST(pb.n_fps AS BIGINT) AS fps_b,
       round(p.shared / CAST(pa.n_fps + pb.n_fps - p.shared AS DOUBLE), 6)
         AS jaccard
FROM pairs p
JOIN per_src pa ON pa.source = p.src_a
JOIN per_src pb ON pb.source = p.src_b
""",
    doc="Cross-source duplication matrix: per source pair, shared word-"
    "8-gram fingerprints and fingerprint-set Jaccard — the provenance "
    "report that shows WHICH feeds mirror/scrape each other, so dedup "
    "keeps the canonical source and sampling (q115) doesn't double-weight "
    "syndicated content. Only sources that actually share a fingerprint "
    "appear (a zero row would be a |sources|² blowup at scale). Scale: "
    "the postings relation is (16-byte fp, source) distinct pairs; the "
    "self-join shuffles on fp and emits a pair only where a fp is "
    "multi-source; per-source totals broadcast back onto the "
    "|sources|²-bounded pair relation.",
)
def q166(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    g = (
        d.select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 7, 0)),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i, 8)))"
                )
            ).alias("gram"),
        )
        .select("source", F.md5("gram").alias("fp"))
        .distinct()
    )
    per_src = g.groupBy("source").agg(F.count("*").alias("n_fps"))
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(per_src.withColumnRenamed("source", "src_a").withColumnRenamed("n_fps", "fps_a")),
            "src_a",
        )
        .join(
            F.broadcast(per_src.withColumnRenamed("source", "src_b").withColumnRenamed("n_fps", "fps_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("bigint").alias("shared_fps"),
            F.col("fps_a").cast("bigint").alias("fps_a"),
            F.col("fps_b").cast("bigint").alias("fps_b"),
            F.round(
                F.col("shared")
                / (F.col("fps_a") + F.col("fps_b") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q167: context-length truncation-loss report
# ---------------------------------------------------------------------------


@query(
    "q167_truncation_loss",
    oracle="""
WITH lens AS (SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents),
ctx AS (SELECT * FROM (VALUES (64), (128), (256)) AS c(ctx))
SELECT lang, ctx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN n_tok > ctx THEN n_tok - ctx ELSE 0 END) AS BIGINT)
         AS lost_tokens,
       round(sum(CASE WHEN n_tok > ctx THEN n_tok - ctx ELSE 0 END)
             / CAST(sum(n_tok) AS DOUBLE), 6) AS lost_share,
       CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_truncated
FROM lens CROSS JOIN ctx
GROUP BY lang, ctx
""",
    doc="Context-length truncation-loss report: for candidate context "
    "sizes {64, 128, 256}, the token mass and doc count a hard-truncation "
    "policy would cut, per language — the capacity-planning table that "
    "decides context length and whether chunking (q104) or packing "
    "(q102) is needed instead of truncation. Scale: per-doc lengths are "
    "map-only; the ctx spine is a broadcast 3-row relation; one "
    "partial-agg groupBy on (lang, ctx). Integer sums + single "
    "divisions — engine-exact.",
)
def q167(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    lens = d.select("lang", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
    ctx = spark.createDataFrame([(64,), (128,), (256,)], "ctx int")
    lost = F.when(F.col("n_tok") > F.col("ctx"), F.col("n_tok") - F.col("ctx")).otherwise(0)
    return (
        lens.crossJoin(F.broadcast(ctx))
        .groupBy("lang", "ctx")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(lost).cast("bigint").alias("lost_tokens"),
            F.round(F.sum(lost) / F.sum("n_tok").cast("double"), 6).alias("lost_share"),
            F.sum(F.when(F.col("n_tok") > F.col("ctx"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_truncated"),
        )
    )


# ---------------------------------------------------------------------------
# q168: LSH band/row parameter sweep
# ---------------------------------------------------------------------------


def _lsh_sweep_oracle(num_hashes: int = 16, band_cfgs: tuple[int, ...] = (2, 4, 8)) -> str:
    """Replays the md5-string minhash family (same construction as q32's
    oracle / operators/dedup.py) and derives the band buckets of EVERY
    config from one signature CTE; bucket identity is component-tuple
    equality (band index included on both engines), so counts agree
    regardless of each engine's key function."""
    cfg_selects = []
    for bands in band_cfgs:
        rows = num_hashes // bands
        band_exprs = ", ".join(
            "concat_ws('|', '"
            + str(b)
            + "', "
            + ", ".join(f"mh{b * rows + r}" for r in range(rows))
            + ")"
            for b in range(bands)
        )
        cfg_selects.append(
            f"SELECT {bands} AS bands, doc_id, "
            f"unnest(list_value({band_exprs})) AS bucket FROM sig"
        )
    allb = "\nUNION ALL\n".join(cfg_selects)
    return f"""
WITH {lsh_oracle.WORDS},
sig AS (SELECT doc_id,
  {lsh_oracle.minhash_mins(num_hashes)}
  FROM words GROUP BY doc_id),
allb AS (
{allb}
),
buckets AS (SELECT bands, bucket, count(*) AS s FROM allb GROUP BY bands, bucket)
SELECT bands,
       CAST({num_hashes} / bands AS BIGINT) AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
       CAST(sum(s * (s - 1) / 2) AS BIGINT) AS candidate_pairs,
       CAST(max(s) AS BIGINT) AS max_bucket
FROM buckets GROUP BY bands
"""


@query(
    "q168_lsh_param_sweep",
    oracle=_lsh_sweep_oracle(),
    doc="LSH band/row parameter sweep: from ONE 16-component minhash "
    "signature relation, the band buckets of THREE configs (2×8, 4×4, "
    "8×2 bands×rows) and each config's candidate-pair volume, multi-doc "
    "bucket count, and worst bucket size — the tuning report that prices "
    "recall (more bands → more candidates) against join cost BEFORE "
    "running the dedup pass (complements q132, which calibrates the "
    "estimator's accuracy after choosing a config). Scale: signatures are "
    "map-only (q32's path); each config's bucket census is a partial-agg "
    "groupBy on band keys; nothing quadratic is materialized — "
    "candidate_pairs is computed FROM bucket sizes, which is exactly why "
    "this report can run where the join itself could not.",
)
def q168(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup

    num_hashes = 16
    sigs = dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=num_hashes
    )
    cfgs = []
    for bands in (2, 4, 8):
        rows = num_hashes // bands
        band_keys = F.array(
            *[
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)],
                )
                for b in range(bands)
            ]
        )
        cfgs.append(
            sigs.select(
                F.lit(bands).alias("bands"),
                "doc_id",
                F.explode(band_keys).alias("bucket"),
            )
        )
    allb = cfgs[0].unionByName(cfgs[1]).unionByName(cfgs[2])
    buckets = allb.groupBy("bands", "bucket").agg(F.count("*").alias("s"))
    return buckets.groupBy("bands").agg(
        (F.lit(num_hashes) / F.col("bands").cast("bigint")).cast("bigint").alias("rows_per_band"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("s") > 1, 1).otherwise(0)).cast("bigint").alias("n_multi_buckets"),
        F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("bigint").alias("candidate_pairs"),
        F.max("s").cast("bigint").alias("max_bucket"),
    )


# ---------------------------------------------------------------------------
# q169: language-ID confusion margins
# ---------------------------------------------------------------------------

_LANG_PROFILES = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "los", "las", "es", "y"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _lang_confusion_oracle() -> str:
    score = {
        lang: "sum(CASE WHEN w IN ("
        + ", ".join(f"'{w}'" for w in words)
        + ") THEN 1 ELSE 0 END)"
        for lang, words in _LANG_PROFILES.items()
    }
    scores = ",\n         ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    langs = sorted(_LANG_PROFILES)
    pred_branches = "\n           ".join(
        f"WHEN s_{lang} >= s_" + f" AND s_{lang} >= s_".join(o for o in langs if o != lang)
        + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    return f"""
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
sc AS (SELECT doc_id, lang,
         {scores}
       FROM tok GROUP BY doc_id, lang),
p AS (
  SELECT lang,
         CASE
           {pred_branches}
           ELSE '{langs[-1]}' END AS pred_lang,
         list_sort([s_de, s_en, s_es, s_fr])[4]
           - list_sort([s_de, s_en, s_es, s_fr])[3] AS margin
  FROM sc)
SELECT lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(sum(margin) / CAST(count(*) AS DOUBLE), 6) AS avg_margin,
       CAST(sum(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous
FROM p GROUP BY lang, pred_lang
"""


@query(
    "q169_lang_confusion",
    oracle=_lang_confusion_oracle(),
    doc="Language-ID confusion matrix WITH decision margins: stopword-"
    "profile scores per language, argmax prediction (alphabetical "
    "tie-break), and the top1−top2 score margin — the report that "
    "separates confidently-wrong from barely-decided (margin 0 rows are "
    "the docs a better classifier or human pass should revisit; q55 only "
    "reports the facet). Scale: token stream reduces to 4 conditional "
    "sums per doc map-side; the matrix is a |langs|²-bounded groupBy. "
    "Margins are integer subtractions of integer sums — engine-exact; "
    "the second-max comes from a sorted 4-element array on BOTH engines.",
)
def q169(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
    aggs = [
        F.sum(
            F.when(F.col("w").isin(*_LANG_PROFILES[lang]), 1).otherwise(0)
        ).alias(f"s_{lang}")
        for lang in sorted(_LANG_PROFILES)
    ]
    sc = tok.groupBy("doc_id", "lang").agg(*aggs)
    langs = sorted(_LANG_PROFILES)
    pred = None
    for lang in langs[:-1]:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    arr = F.array_sort(F.array(*[F.col(f"s_{lang}") for lang in langs]))
    p = sc.select(
        "lang",
        pred.alias("pred_lang"),
        (F.get(arr, 3) - F.get(arr, 2)).alias("margin"),
    )
    return p.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.sum("margin") / F.count("*").cast("double"), 6).alias("avg_margin"),
        F.sum(F.when(F.col("margin") == 0, 1).otherwise(0)).cast("bigint").alias("n_ambiguous"),
    )


# ---------------------------------------------------------------------------
# q170: targeted-deletion (right-to-be-forgotten) manifest
# ---------------------------------------------------------------------------


@query(
    "q170_deletion_manifest",
    oracle="""
WITH req AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 13),
cls AS (
  SELECT d.source, d.doc_id,
         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS del
  FROM documents d LEFT JOIN req r ON d.doc_id = r.doc_id)
SELECT source,
       CAST(sum(del) AS BIGINT) AS n_deleted,
       CAST(sum(1 - del) AS BIGINT) AS n_retained,
       md5(coalesce(array_to_string(
           list(CAST(doc_id AS VARCHAR) ORDER BY doc_id) FILTER (WHERE del = 1),
           ','), '')) AS deleted_ids_md5
FROM cls GROUP BY source
""",
    doc="Targeted-deletion audit manifest (the right-to-be-forgotten / "
    "takedown operator every training-data pipeline must run): documents "
    "matching a deletion-request key set are classified out, and the "
    "manifest records per source how many were deleted/retained plus an "
    "md5 over the ORDERED deleted-id list — the verifiable receipt that "
    "exactly the requested ids (and nothing else) left the corpus. "
    "Scale: the request list is broadcast (it is small by nature); the "
    "corpus streams through one left-join + groupBy; the manifest hash "
    "orders only within-group deleted ids. The retained side of the same "
    "plan IS the next corpus snapshot — one pass for audit + rewrite.",
)
def q170(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    req = d.filter(F.col("doc_id") % 97 == 13).select("doc_id")
    cls = d.select("source", "doc_id").join(
        F.broadcast(req.withColumn("del", F.lit(1))), "doc_id", "left"
    ).withColumn("del", F.coalesce(F.col("del"), F.lit(0)))
    return cls.groupBy("source").agg(
        F.sum("del").cast("bigint").alias("n_deleted"),
        F.sum(1 - F.col("del")).cast("bigint").alias("n_retained"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("del") == 1, F.col("doc_id")))
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        ).alias("deleted_ids_md5"),
    )


# ---------------------------------------------------------------------------
# q171: temperature-scaled multilingual mixture weights
# ---------------------------------------------------------------------------


@query(
    "q171_temperature_mix",
    oracle="""
WITH per_lang AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang),
tot AS (SELECT sum(n_docs) AS n FROM per_lang),
w AS (
  SELECT lang, n_docs,
         round(n_docs / CAST(n AS DOUBLE), 6) AS p_raw,
         CAST(round(pow(n_docs / CAST(n AS DOUBLE), 0.3), 6) AS DECIMAL(18, 6)) AS wt
  FROM per_lang, tot),
z AS (SELECT sum(wt) AS z FROM w)
SELECT lang, n_docs, p_raw,
       round(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE), 6) AS p_temp,
       round(CAST(wt AS DOUBLE) / CAST(z AS DOUBLE)
             / (n_docs / CAST((SELECT n FROM tot) AS DOUBLE)), 6) AS upsample
FROM w, z
""",
    doc="Temperature-scaled multilingual sampling weights (the mT5/XLM-R "
    "alpha=0.3 recipe): per-language raw share p, tempered weight p^alpha "
    "renormalized, and the implied upsample factor q/p — the table that "
    "turns a skewed crawl into the language mix the training run actually "
    "samples. Low-resource langs get upsample>1, the head gets <1. "
    "Determinism: pow() terms are rounded to 6 dp THEN summed as "
    "DECIMAL(18,6) (exact, order-independent); every output is a single "
    "division of those exact quantities. Scale: reduces to one "
    "|langs|-row relation immediately — corpus text never shuffles; the "
    "1-row normalizer Z and total broadcast everywhere.",
)
def q171(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = per_lang.agg(F.sum("n_docs").alias("n"))
    w = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n").cast("double"), 6).alias("p_raw"),
        F.round(F.pow(F.col("n_docs") / F.col("n").cast("double"), F.lit(0.3)), 6)
        .cast("decimal(18,6)")
        .alias("wt"),
        F.col("n"),
    )
    z = w.agg(F.sum("wt").alias("z"))
    return w.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "p_raw",
        F.round(F.col("wt").cast("double") / F.col("z").cast("double"), 6).alias("p_temp"),
        F.round(
            (F.col("wt").cast("double") / F.col("z").cast("double"))
            / (F.col("n_docs") / F.col("n").cast("double")),
            6,
        ).alias("upsample"),
    )


# ---------------------------------------------------------------------------
# q172: degenerate-text detection via token run lengths
# ---------------------------------------------------------------------------


@query(
    "q172_degenerate_runs",
    oracle="""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, source, ws[i] AS w, i AS pos
  FROM toks, unnest(range(1, len(ws) + 1)) AS r(i)),
runs AS (
  SELECT doc_id, source, w,
         pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
  FROM pos),
run_len AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS rl
  FROM runs GROUP BY doc_id, source, w, grp),
per_doc AS (
  SELECT r.doc_id, r.source, max(r.rl) AS max_run, t.n, t.top_cnt
  FROM run_len r
  JOIN (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
               max(cnt) AS top_cnt
        FROM (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
              FROM pos GROUP BY doc_id, w) c
        GROUP BY doc_id) t ON r.doc_id = t.doc_id
  GROUP BY r.doc_id, r.source, t.n, t.top_cnt)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_run_flagged,
       CAST(sum(CASE WHEN top_cnt * 5 >= n THEN 1 ELSE 0 END) AS BIGINT) AS n_dominance_flagged,
       CAST(max(max_run) AS BIGINT) AS worst_run,
       round(sum(CAST(round(top_cnt / CAST(n AS DOUBLE), 6) AS DECIMAL(18, 6)))
             / CAST(count(*) AS DOUBLE), 6) AS avg_dominance
FROM per_doc GROUP BY source
""",
    doc="Degenerate-generation detector: per doc, the LONGEST consecutive "
    "same-token run (gaps-and-islands: pos minus per-token row_number "
    "groups a run; run length = group size) and top-token dominance "
    "(max token count / doc length) — the two signatures of looping "
    "model output ('the the the...' runs; one token eating >=20% of a "
    "doc) that distinct-ratio metrics like q36 dilute away. Per-source "
    "counts of run-flagged (run >= 3) and dominance-flagged (5*top >= n, "
    "kept integral so the flag is engine-exact) docs. Scale: the token "
    "stream partitions by (doc, token) for the run grouping and by doc "
    "for totals — both partial-aggregate shuffles bounded by token "
    "count; windows are within-doc, never global. avg_dominance sums "
    "pre-rounded DECIMAL terms then divides once.",
)
def q172(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w"),
    ).select("doc_id", "source", "w", (F.col("pos0") + 1).alias("pos"))
    runs = pos.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id", "w").orderBy("pos")
        ),
    )
    run_len = runs.groupBy("doc_id", "source", "w", "grp").agg(
        F.count("*").cast("bigint").alias("rl")
    )
    cnt = pos.groupBy("doc_id", "w").agg(F.count("*").cast("bigint").alias("cnt"))
    totals = cnt.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n"), F.max("cnt").alias("top_cnt")
    )
    per_doc = (
        run_len.groupBy("doc_id", "source")
        .agg(F.max("rl").alias("max_run"))
        .join(totals, "doc_id")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("max_run") >= 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_run_flagged"),
        F.sum(F.when(F.col("top_cnt") * 5 >= F.col("n"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dominance_flagged"),
        F.max("max_run").cast("bigint").alias("worst_run"),
        F.round(
            F.sum(
                F.round(F.col("top_cnt") / F.col("n").cast("double"), 6).cast(
                    "decimal(18,6)"
                )
            )
            / F.count("*").cast("double"),
            6,
        ).alias("avg_dominance"),
    )


# ---------------------------------------------------------------------------
# q173: label x shard chi-square balance audit
# ---------------------------------------------------------------------------


@query(
    "q173_label_shard_balance",
    oracle="""
WITH o AS (
  SELECT label, vec_id % 8 AS shard, CAST(count(*) AS BIGINT) AS o
  FROM embeddings GROUP BY label, vec_id % 8),
rl AS (SELECT label, CAST(sum(o) AS BIGINT) AS rl FROM o GROUP BY label),
cl AS (SELECT shard, CAST(sum(o) AS BIGINT) AS cl FROM o GROUP BY shard),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
t AS (
  SELECT o.label, o.shard,
         CAST(round(
           CAST(o.o * n.n - rl.rl * cl.cl AS DOUBLE)
           * CAST(o.o * n.n - rl.rl * cl.cl AS DOUBLE)
           / (CAST(n.n AS DOUBLE) * rl.rl * cl.cl), 6) AS DECIMAL(18, 6)) AS term,
         round(abs(o.o * n.n - rl.rl * cl.cl) / CAST(n.n AS DOUBLE), 6) AS dev
  FROM o, rl, cl, n WHERE o.label = rl.label AND o.shard = cl.shard)
SELECT label,
       CAST((SELECT rl FROM rl r WHERE r.label = t.label) AS BIGINT) AS n_vecs,
       round(CAST(sum(term) AS DOUBLE), 6) AS chi2_contrib,
       round(max(dev), 6) AS max_abs_dev
FROM t GROUP BY label
""",
    doc="Shard-balance audit as a chi-square contingency: labels x shards "
    "(shard = vec_id % 8, the epoch-shard key), per-cell term "
    "(o*N - rowTot*colTot)^2 / (N*rowTot*colTot) — algebraically "
    "(o-e)^2/e with the expectation kept in INTEGER products so the only "
    "float ops are one IEEE multiply and one divide per cell (engine-"
    "exact), then a DECIMAL sum of 6-dp-rounded terms. A label whose "
    "chi2_contrib spikes is concentrated in some shards — training on "
    "shard-sequential order would see it in bursts. Scale: the "
    "contingency is |labels|x|shards| rows after one partial-agg "
    "groupBy; row/col totals re-aggregate THAT relation, never the "
    "corpus; everything downstream is broadcast-sized.",
)
def q173(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    o = e.groupBy(
        "label", (F.col("vec_id") % 8).alias("shard")
    ).agg(F.count("*").cast("bigint").alias("o"))
    rl = o.groupBy("label").agg(F.sum("o").cast("bigint").alias("rl"))
    cl = o.groupBy("shard").agg(F.sum("o").cast("bigint").alias("cl"))
    n = o.agg(F.sum("o").cast("bigint").alias("n"))
    num = (F.col("o") * F.col("n") - F.col("rl") * F.col("cl")).cast("double")
    t = (
        o.join(F.broadcast(rl), "label")
        .join(F.broadcast(cl), "shard")
        .crossJoin(F.broadcast(n))
        .select(
            "label",
            "rl",
            F.round(
                num * num / (F.col("n").cast("double") * F.col("rl") * F.col("cl")), 6
            )
            .cast("decimal(18,6)")
            .alias("term"),
            F.round(
                F.abs(F.col("o") * F.col("n") - F.col("rl") * F.col("cl"))
                / F.col("n").cast("double"),
                6,
            ).alias("dev"),
        )
    )
    return t.groupBy("label").agg(
        F.max("rl").cast("bigint").alias("n_vecs"),
        F.round(F.sum("term").cast("double"), 6).alias("chi2_contrib"),
        F.round(F.max("dev"), 6).alias("max_abs_dev"),
    )


# ---------------------------------------------------------------------------
# q174: duplication growth curve over ingestion order
# ---------------------------------------------------------------------------


@query(
    "q174_dedup_growth_curve",
    oracle="""
WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
firsts AS (SELECT fp, min(doc_id) AS first_doc FROM fp GROUP BY fp),
db AS (SELECT CAST(doc_id // 100 AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_docs
       FROM fp GROUP BY doc_id // 100),
nb AS (SELECT CAST(first_doc // 100 AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_new
       FROM firsts GROUP BY first_doc // 100),
cur AS (
  SELECT db.bucket, db.n_docs, coalesce(nb.n_new, 0) AS n_new
  FROM db LEFT JOIN nb ON db.bucket = nb.bucket)
SELECT bucket, n_docs, CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
       CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS cum_new,
       round(sum(n_new) OVER (ORDER BY bucket)
             / CAST(sum(n_docs) OVER (ORDER BY bucket) AS DOUBLE), 6)
         AS distinct_ratio
FROM cur
""",
    doc="Duplication growth curve: with doc_id as ingestion order, how the "
    "cumulative distinct-content ratio decays as the corpus grows — each "
    "100-doc bucket reports new-fingerprint count and the running "
    "distinct/total ratio. A flattening curve says the crawl is "
    "re-fetching what it already has (diminishing returns — the "
    "measurement behind 'stop crawling this source'). Scale: fingerprints "
    "reduce map-side to (fp, min doc_id); both bucket relations are "
    "corpus/100 rows; the only window runs over THAT bounded bucket "
    "relation, not over documents. Ratios are single divisions of exact "
    "BIGINT cumulative sums.",
)
def q174(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    firsts = fp.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    db = fp.groupBy(F.floor(F.col("doc_id") / 100).alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    nb = firsts.groupBy(F.floor(F.col("first_doc") / 100).alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    cur = db.join(nb, "bucket", "left").select(
        "bucket", "n_docs", F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return cur.select(
        "bucket",
        "n_docs",
        "n_new",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_new"),
        F.round(
            F.sum("n_new").over(w) / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# q175: cross-source length-calibration table (tie-stable global deciles)
# ---------------------------------------------------------------------------


@query(
    "q175_length_calibration",
    oracle="""
WITH vc AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY n_chars),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
dec AS (
  SELECT v, least(CAST(10 * (sum(c) OVER (ORDER BY v) - c) // n.n AS BIGINT), 9)
           AS decile
  FROM vc, n),
cls AS (
  SELECT d.source, dec.decile FROM documents d JOIN dec ON d.n_chars = dec.v),
src AS (SELECT source, CAST(count(*) AS BIGINT) AS src_n FROM documents GROUP BY source)
SELECT c.source, c.decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) / CAST(max(s.src_n) AS DOUBLE), 6) AS share
FROM cls c JOIN src s ON c.source = s.source
GROUP BY c.source, c.decile
""",
    doc="Cross-source length-calibration: each document's n_chars is mapped "
    "to a GLOBAL decile and the table reports, per source, how its mass "
    "spreads across those deciles — a source bunched in deciles 0-2 "
    "contributes systematically shorter docs than the corpus norm (the "
    "check run before trusting a shared length/quality threshold across "
    "feeds). Deciles are TIE-STABLE by construction: computed per "
    "DISTINCT VALUE as floor(10 * count_strictly_below / N) — identical "
    "docs can never straddle a decile boundary, so no engine-specific "
    "ntile tie-break leaks in, and the only window runs over the "
    "distinct-value relation (bounded by value cardinality), never a "
    "global per-doc sort. Docs join back by value (broadcast-sized map).",
)
def q175(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        value_domain_rank_blocks,
    )

    d = load_table(spark, sf_dir, "documents")
    # the extracted block operator (r11), GLOBAL partition: one row per
    # distinct n_chars with multiplicity c and count-strictly-below
    vc = value_domain_rank_blocks(
        d.select(F.col("n_chars").alias("v")), [], "v",
        count_col="c", below_col="below",
    )
    n = vc.agg(F.sum("c").cast("bigint").alias("n"))
    dec = vc.crossJoin(F.broadcast(n)).select(
        "v",
        F.least(F.floor(10 * F.col("below") / F.col("n")), F.lit(9))
        .cast("bigint")
        .alias("decile"),
    )
    cls = d.join(F.broadcast(dec), d["n_chars"] == dec["v"]).select("source", "decile")
    src = d.groupBy("source").agg(F.count("*").cast("bigint").alias("src_n"))
    return (
        cls.join(F.broadcast(src), "source")
        .groupBy("source", "decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.count("*") / F.max("src_n").cast("double"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q176: n-gram overlap with a target domain
# ---------------------------------------------------------------------------


@query(
    "q176_domain_overlap",
    oracle="""
WITH toks AS (SELECT doc_id, source, lang, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT source, lang,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))) AS gh
      FROM toks),
sg AS (SELECT DISTINCT source, gh FROM g),
target AS (SELECT DISTINCT gh FROM g WHERE lang = 'en')
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN gh IN (SELECT gh FROM target) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_target,
       round(sum(CASE WHEN gh IN (SELECT gh FROM target) THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS overlap
FROM sg GROUP BY source
""",
    doc="Domain-affinity score: per source, the fraction of its DISTINCT "
    "word-3-gram fingerprints that also occur in the target domain "
    "(here: the English-language slice) — the cheap distributional-"
    "closeness proxy used to rank candidate feeds for domain-targeted "
    "data selection (a lexical cousin of importance-resampling "
    "selection). Scale: 3-grams hash to 16-byte md5 map-side and "
    "per-doc/per-source DISTINCTs are partial-aggregated before any "
    "shuffle; the target set is source-independent and the membership "
    "test is one left-semi-style join keyed on the hash — text itself "
    "never shuffles.",
)
def q176(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "source",
        "lang",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0)),"
                    " i -> md5(concat_ws(' ', slice(split(text, ' '), i, 3))))"
                )
            )
        ).alias("gh"),
    )
    sg = g.select("source", "gh").distinct()
    target = g.filter(F.col("lang") == "en").select("gh").distinct()
    hit = sg.join(
        target.withColumn("in_t", F.lit(1)), "gh", "left"
    ).select("source", F.coalesce("in_t", F.lit(0)).alias("in_t"))
    return hit.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum("in_t").cast("bigint").alias("n_in_target"),
        F.round(F.sum("in_t") / F.count("*").cast("double"), 6).alias("overlap"),
    )


# ---------------------------------------------------------------------------
# q177: code-switching (intra-document language shift) matrix
# ---------------------------------------------------------------------------


def _half_scores_duck(half_expr: str) -> str:
    return ",\n         ".join(
        f"sum(CASE WHEN {half_expr} AND w IN ("
        + ", ".join(f"'{t}'" for t in _LANG_PROFILES[lang])
        + f") THEN 1 ELSE 0 END) AS {{h}}_s_{lang}"
        for lang in sorted(_LANG_PROFILES)
    )


def _argmax_duck(prefix: str) -> str:
    langs = sorted(_LANG_PROFILES)
    branches = "\n           ".join(
        f"WHEN {prefix}_s_{lang} >= {prefix}_s_"
        + f" AND {prefix}_s_{lang} >= {prefix}_s_".join(
            o for o in langs if o != lang
        )
        + f" THEN '{lang}'"
        for lang in langs[:-1]
    )
    return f"CASE\n           {branches}\n           ELSE '{langs[-1]}' END"


def _code_switch_oracle() -> str:
    first = _half_scores_duck("pos * 2 <= n").format(h="a")
    second = _half_scores_duck("pos * 2 > n").format(h="b")
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, ws[i] AS w, i AS pos, len(ws) AS n
  FROM toks, unnest(range(1, len(ws) + 1)) AS r(i)),
sc AS (SELECT doc_id,
         {first},
         {second}
       FROM pos GROUP BY doc_id),
p AS (SELECT {_argmax_duck('a')} AS lang_head,
             {_argmax_duck('b')} AS lang_tail
      FROM sc)
SELECT lang_head, lang_tail,
       CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY lang_head, lang_tail
"""


@query(
    "q177_code_switching",
    oracle=_code_switch_oracle(),
    doc="Code-switching / language-shift matrix: each document's token "
    "stream is split at its midpoint (pos*2 <= n, an integer predicate — "
    "no float boundary), each half classified by stopword-profile argmax "
    "(alphabetical tie-break, same rule as q169), and the (head-lang, "
    "tail-lang) transition matrix reported. Off-diagonal mass is the "
    "language-mixing rate — docs a single whole-doc language label "
    "(q55/q169) silently mislabels, which poisons per-language sampling "
    "weights (q171) and lang-conditioned filters. Scale: the token "
    "stream reduces map-side to 8 conditional sums per doc; the matrix "
    "is |langs|²-bounded. Every comparison is integer.",
)
def q177(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # token count computed BEFORE the explode: the midpoint predicate is
    # then map-side arithmetic — no per-doc window over the token stream
    pos = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w"),
    ).select("doc_id", "w", (F.col("pos0") + 1).alias("pos"), "n")
    langs = sorted(_LANG_PROFILES)
    aggs = []
    for prefix, pred in (("a", F.col("pos") * 2 <= F.col("n")),
                         ("b", F.col("pos") * 2 > F.col("n"))):
        for lang in langs:
            aggs.append(
                F.sum(
                    F.when(pred & F.col("w").isin(*_LANG_PROFILES[lang]), 1)
                    .otherwise(0)
                ).alias(f"{prefix}_s_{lang}")
            )
    sc = pos.groupBy("doc_id").agg(*aggs)

    def argmax(prefix):
        pred = None
        for lang in langs[:-1]:
            cond = None
            for other in langs:
                if other == lang:
                    continue
                c = F.col(f"{prefix}_s_{lang}") >= F.col(f"{prefix}_s_{other}")
                cond = c if cond is None else (cond & c)
            pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
        return pred.otherwise(langs[-1])

    p = sc.select(argmax("a").alias("lang_head"), argmax("b").alias("lang_tail"))
    return p.groupBy("lang_head", "lang_tail").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# q178: canary-marker contamination scan
# ---------------------------------------------------------------------------


@query(
    "q178_canary_scan",
    oracle="""
WITH test_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 5),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - 4),
             i -> array_to_string(string_split(text, ' ')[i:i+5], ' '))) AS gram
  FROM test_docs),
ranked AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS rk
  FROM grams GROUP BY doc_id, gram),
canaries AS (SELECT doc_id AS canary_doc, gram AS canary FROM ranked WHERE rk = 1),
hits AS (
  SELECT c.canary_doc, c.canary,
         CASE WHEN d.doc_id % 97 <> 5 AND contains(d.text, c.canary)
              THEN 1 ELSE 0 END AS hit,
         CASE WHEN d.doc_id % 97 <> 5 THEN
           (len(d.text) - len(replace(d.text, c.canary, ''))) // len(c.canary)
         ELSE 0 END AS occ
  FROM canaries c, documents d)
SELECT canary_doc, canary,
       CAST(sum(hit) AS BIGINT) AS n_docs_hit,
       CAST(sum(occ) AS BIGINT) AS n_occurrences
FROM hits GROUP BY canary_doc, canary
""",
    doc="Canary contamination scan: each held-out document (doc_id%97=5) "
    "contributes its most-frequent word-6-gram as a canary marker "
    "(deterministic argmax: count desc, gram asc), and the training "
    "corpus is swept for verbatim occurrences — hit-doc count plus total "
    "occurrence count via the replace-length identity "
    "(len - len(replace))//len(canary), exact integer arithmetic on both "
    "engines. This is the memorization-audit primitive (canary strings "
    "planted or discovered, then searched verbatim); q100/q110 measure "
    "n-gram OVERLAP, this measures literal substring presence including "
    "across token boundaries. Scale: the canary set is K rows and "
    "BROADCAST against the corpus scan (one pass, no shuffle of text); "
    "per-test-doc argmax is a bounded window over that doc's own grams.",
)
def q178(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    test_docs = d.filter(F.col("doc_id") % 97 == 5)
    grams = test_docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(split(text, ' ')) - 5, 0)),"
                " i -> concat_ws(' ', slice(split(text, ' '), i, 6)))"
            )
        ).alias("gram"),
    )
    ranked = grams.groupBy("doc_id", "gram").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("gram"))
        ),
    )
    canaries = ranked.filter(F.col("rk") == 1).select(
        F.col("doc_id").alias("canary_doc"), F.col("gram").alias("canary")
    )
    train = F.col("doc_id") % 97 != 5
    hits = d.crossJoin(F.broadcast(canaries)).select(
        "canary_doc",
        "canary",
        F.when(train & F.col("text").contains(F.col("canary")), 1)
        .otherwise(0)
        .alias("hit"),
        F.when(
            train,
            F.floor(
                (F.length("text") - F.length(F.replace(F.col("text"), F.col("canary"))))
                / F.length("canary")
            ),
        )
        .otherwise(0)
        .alias("occ"),
    )
    return hits.groupBy("canary_doc", "canary").agg(
        F.sum("hit").cast("bigint").alias("n_docs_hit"),
        F.sum("occ").cast("bigint").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# q179: quality-filter redundancy matrix
# ---------------------------------------------------------------------------


@query(
    "q179_filter_redundancy",
    oracle="""
WITH fp AS (SELECT md5(text) AS f, CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY md5(text)),
tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dom AS (SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
               CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT doc_id, w, count(*) AS cnt
              FROM (SELECT doc_id, unnest(ws) AS w FROM tok) GROUP BY doc_id, w)
        GROUP BY doc_id),
p25 AS (SELECT CAST(max(n_chars) AS BIGINT) AS cutoff FROM (
          SELECT n_chars, sum(1) OVER (ORDER BY n_chars, doc_id) AS rn
          FROM documents) WHERE rn * 4 <= (SELECT count(*) FROM documents)),
flags AS (
  SELECT CASE WHEN d.n_chars <= p25.cutoff THEN 1 ELSE 0 END AS f_short,
         CASE WHEN fp.c > 1 THEN 1 ELSE 0 END AS f_dup,
         CASE WHEN dom.top_cnt * 5 >= dom.n THEN 1 ELSE 0 END AS f_dom
  FROM documents d
  JOIN fp ON md5(d.text) = fp.f
  JOIN dom ON d.doc_id = dom.doc_id
  CROSS JOIN p25),
cells AS (SELECT f_short, f_dup, f_dom, CAST(count(*) AS BIGINT) AS n
          FROM flags GROUP BY f_short, f_dup, f_dom)
SELECT 'short' AS filter_a, 'dup' AS filter_b,
       CAST(sum(CASE WHEN f_short = 1 THEN n ELSE 0 END) AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN f_dup = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
       CAST(sum(CASE WHEN f_short = 1 AND f_dup = 1 THEN n ELSE 0 END) AS BIGINT) AS n_both
FROM cells
UNION ALL
SELECT 'short', 'dom',
       CAST(sum(CASE WHEN f_short = 1 THEN n ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_dom = 1 THEN n ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_short = 1 AND f_dom = 1 THEN n ELSE 0 END) AS BIGINT)
FROM cells
UNION ALL
SELECT 'dup', 'dom',
       CAST(sum(CASE WHEN f_dup = 1 THEN n ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_dom = 1 THEN n ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN f_dup = 1 AND f_dom = 1 THEN n ELSE 0 END) AS BIGINT)
FROM cells
""",
    doc="Quality-filter redundancy matrix: three standard filters — "
    "short (n_chars in the exact bottom quartile, tie-stable cutoff via "
    "the (n_chars, doc_id)-ordered running count), exact-duplicate "
    "(fingerprint multiplicity > 1), and dominance (top token >= 20%) — "
    "evaluated as flags per doc, then every PAIR's removal-set overlap "
    "reported. High |A∩B|/|A| says filter A is redundant given B: run "
    "the cheap one first, or drop one entirely. Scale: the per-doc flag "
    "relation collapses immediately into the 2³-cell contingency; all "
    "pair overlaps derive from those 8 rows — adding a 4th filter costs "
    "one column, not another corpus pass.",
)
def q179(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fp = d.groupBy(F.md5("text").alias("f")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = tok.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    dom = cnt.groupBy("doc_id").agg(
        F.max("cnt").cast("bigint").alias("top_cnt"),
        F.sum("cnt").cast("bigint").alias("n"),
    )
    # exact bottom-quartile cutoff, tie-stable: the largest n_chars whose
    # (n_chars, doc_id)-ordered rank satisfies rn*4 <= N. The window runs
    # over the docs relation once; at 100 TB swap for the distinct-value
    # cumulative trick (q175) — same cutoff by construction.
    n_total = d.count()
    ranked = d.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("rn"),
    )
    cutoff = ranked.filter(F.col("rn") * 4 <= n_total).agg(
        F.max("n_chars").cast("bigint").alias("cutoff")
    )
    flags = (
        d.join(fp, F.md5(d["text"]) == fp["f"])
        .join(dom, "doc_id")
        .crossJoin(F.broadcast(cutoff))
        .select(
            F.when(F.col("n_chars") <= F.col("cutoff"), 1).otherwise(0).alias("f_short"),
            F.when(F.col("c") > 1, 1).otherwise(0).alias("f_dup"),
            F.when(F.col("top_cnt") * 5 >= F.col("n"), 1).otherwise(0).alias("f_dom"),
        )
    )
    cells = flags.groupBy("f_short", "f_dup", "f_dom").agg(
        F.count("*").cast("bigint").alias("n")
    )

    def pair(a, b, name_a, name_b):
        return cells.agg(
            F.lit(name_a).alias("filter_a"),
            F.lit(name_b).alias("filter_b"),
            F.sum(F.when(F.col(a) == 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col(b) == 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when((F.col(a) == 1) & (F.col(b) == 1), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_both"),
        )

    return (
        pair("f_short", "f_dup", "short", "dup")
        .unionByName(pair("f_short", "f_dom", "short", "dom"))
        .unionByName(pair("f_dup", "f_dom", "dup", "dom"))
    )


# ---------------------------------------------------------------------------
# q180: event-type co-occurrence PMI (association mining)
# ---------------------------------------------------------------------------


@query(
    "q180_event_cooccurrence",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY event_type),
n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type)
SELECT p.type_a, p.type_b, p.n_both, ca.c AS n_a, cb.c AS n_b,
       round(log2(CAST(p.n_both AS DOUBLE) * n.n / (ca.c * cb.c)), 6) AS pmi
FROM pairs p
JOIN tc ca ON p.type_a = ca.event_type
JOIN tc cb ON p.type_b = cb.event_type
CROSS JOIN n
""",
    doc="Event-type co-occurrence PMI: which behaviors cluster in the "
    "same users (basket-analysis over the event stream — the q105 "
    "bigram-lift idea lifted from adjacent tokens to per-user event "
    "sets). PMI = log2(P(a,b)/(P(a)P(b))) with every probability a "
    "ratio of exact BIGINT user counts — one double expression per "
    "OUTPUT row, rounded at 6 dp. Scale: the user×type relation is "
    "DISTINCT-collapsed first (bounded by users × |types|); the "
    "self-join runs per user over their own bounded type set "
    "(|types|² per user, |types| small by nature), then collapses to "
    "the |types|²-row matrix. The corpus-scale event stream is touched "
    "exactly once.",
)
def q180(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    tc = ut.groupBy("event_type").agg(F.count("*").cast("bigint").alias("c"))
    n = e.agg(F.countDistinct("user_id").cast("bigint").alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    ca = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("n_a"))
    cb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.log2(F.col("n_both").cast("double") * F.col("n") / (F.col("n_a") * F.col("n_b"))),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# q181: transitive false-merge audit of LSH dedup clusters
# ---------------------------------------------------------------------------


def _false_merge_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH RECURSIVE
{lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
{lsh_oracle.STAR_CLOSURE},
cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM cl GROUP BY cluster_id),
nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY doc_id),
pairs AS (SELECT cluster_id, doc_id FROM cl WHERE doc_id <> cluster_id),
inter AS (
  SELECT p.cluster_id, p.doc_id, CAST(count(*) AS BIGINT) AS c
  FROM pairs p
  JOIN words wa ON wa.doc_id = p.cluster_id
  JOIN words wb ON wb.doc_id = p.doc_id AND wb.w = wa.w
  GROUP BY p.cluster_id, p.doc_id),
jac AS (
  SELECT p.cluster_id, p.doc_id,
         round(coalesce(i.c, 0)
               / CAST(na.n + nb.n - coalesce(i.c, 0) AS DOUBLE), 6) AS j
  FROM pairs p
  LEFT JOIN inter i ON p.cluster_id = i.cluster_id AND p.doc_id = i.doc_id
  JOIN nw na ON na.doc_id = p.cluster_id
  JOIN nw nb ON nb.doc_id = p.doc_id)
SELECT s.sz AS cluster_size,
       CAST(count(DISTINCT j.cluster_id) AS BIGINT) AS n_clusters,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(sum(CAST(j.j AS DECIMAL(18, 6))) / CAST(count(*) AS DOUBLE), 6)
         AS avg_jaccard,
       CAST(sum(CASE WHEN j.j < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_half
FROM jac j JOIN sizes s ON j.cluster_id = s.cluster_id
GROUP BY s.sz
"""


@query(
    "q181_false_merge_audit",
    oracle=_false_merge_oracle(),
    doc="Transitive false-merge audit: LSH + closure dedup (q103's exact "
    "pipeline) merges docs that may share NO direct bucket — this query "
    "prices that, computing the EXACT word-set Jaccard between every "
    "cluster member and its representative (the doc that replaces it "
    "after dedup), bucketed by cluster size. avg_jaccard falling and "
    "n_below_half rising with cluster size is the chain-merge "
    "pathology — the evidence for band/row retuning (q168) or a "
    "verify-pass (q132) before deleting. Scale: pairs are "
    "member→representative stars (one per dropped doc, linear); the "
    "intersection join moves (doc, word-hash) postings of CLUSTERED "
    "docs only, never all-pairs. Cites reference scan loop "
    "(`ElasticSearch ETL.py:220-267`) only for data shape — the audit "
    "itself has no reference analog.",
)
def q181(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph

    d = load_table(spark, sf_dir, "documents")
    edges = dedup.lsh_bucket_edges(d, "doc_id", "text", num_hashes=16, bands=4)
    cl = graph.dedup_clusters(edges, d, id_col="doc_id").select("doc_id", "cluster_id")
    sizes = cl.groupBy("cluster_id").agg(F.count("*").cast("bigint").alias("sz"))
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    nw = words.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    pairs = cl.filter(F.col("doc_id") != F.col("cluster_id"))
    wa = words.select(F.col("doc_id").alias("cluster_id"), "w")
    wb = words.select(F.col("doc_id").alias("doc_id"), "w")
    inter = (
        pairs.join(wa, "cluster_id")
        .join(wb, ["doc_id", "w"])
        .groupBy("cluster_id", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    na = nw.select(F.col("doc_id").alias("cluster_id"), F.col("n").alias("na"))
    nb = nw.select("doc_id", F.col("n").alias("nb"))
    jac = (
        pairs.join(inter, ["cluster_id", "doc_id"], "left")
        .join(na, "cluster_id")
        .join(nb, "doc_id")
        .select(
            "cluster_id",
            F.round(
                F.coalesce("c", F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce("c", F.lit(0))).cast(
                    "double"
                ),
                6,
            ).alias("j"),
        )
    )
    return (
        jac.join(sizes, "cluster_id")
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("j").cast("decimal(18,6)")) / F.count("*").cast("double"),
                6,
            ).alias("avg_jaccard"),
            F.sum(F.when(F.col("j") < 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_below_half"),
        )
    )


# ---------------------------------------------------------------------------
# q182: out-of-orderness / watermark-lateness audit
# ---------------------------------------------------------------------------


@query(
    "q182_watermark_audit",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS tsec
  FROM events),
hw AS (
  SELECT event_type, tsec,
         max(tsec) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS high_water
  FROM e),
lat AS (
  SELECT event_type,
         CASE WHEN high_water IS NULL OR high_water <= tsec THEN 0
              ELSE high_water - tsec END AS lateness
  FROM hw)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN lateness > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       CAST(sum(CASE WHEN lateness > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
       CAST(sum(CASE WHEN lateness > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_5m,
       CAST(max(lateness) AS BIGINT) AS max_lateness_sec,
       round(sum(lateness) / CAST(count(*) AS DOUBLE), 6) AS avg_lateness_sec
FROM lat GROUP BY event_type
""",
    doc="Watermark-lateness audit: treating event_id as ARRIVAL order, an "
    "event's lateness is how far its event time sits behind the per-user "
    "high-water mark at arrival (max prior event time, "
    "rows-unbounded-to-1-preceding window). The per-type table — "
    "out-of-order fraction, counts beyond 1m/5m, max and mean lateness — "
    "is the measurement that PICKS the `withWatermark` delay for every "
    "streaming job in streaming/: a watermark below max observed "
    "lateness silently drops those events; one far above it holds state "
    "for nothing. Timestamps floor to whole seconds on both engines "
    "(Spark unix_timestamp truncates, DuckDB epoch() keeps fractions). "
    "Scale: one per-user window in arrival order (partitioned, never "
    "global), then a partial-agg groupBy to |event_types| rows.",
)
def q182(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("tsec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hw = e.select("event_type", "tsec", F.max("tsec").over(w).alias("high_water"))
    lat = hw.select(
        "event_type",
        F.when(
            F.col("high_water").isNull() | (F.col("high_water") <= F.col("tsec")), 0
        )
        .otherwise(F.col("high_water") - F.col("tsec"))
        .alias("lateness"),
    )
    return lat.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("lateness") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_out_of_order"),
        F.sum(F.when(F.col("lateness") > 60, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_1m"),
        F.sum(F.when(F.col("lateness") > 300, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_5m"),
        F.max("lateness").cast("bigint").alias("max_lateness_sec"),
        F.round(F.sum("lateness") / F.count("*").cast("double"), 6).alias(
            "avg_lateness_sec"
        ),
    )
