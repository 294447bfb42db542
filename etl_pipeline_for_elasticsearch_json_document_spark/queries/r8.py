"""Round-8 query registrations: the corpus-economics layer of an LLM data
pipeline — the decontamination DECISION score (per-test-doc shared-gram
fraction, where q100 only counts carriers), the dedup cost/benefit pareto
(what each cluster-size band of near-dups would save), cross-source
mirroring and head-template detection (which feeds dominate the
boilerplate), the gram document-frequency spectrum (the corpus'
duplication fingerprint), packing-boundary economics (how many docs a
context size splits across pack boundaries), per-dimension embedding clip
calibration, label-cluster silhouettes, plus relational analytics shapes
the TPC-H side lacked: market-basket lift over order baskets,
supplier-concentration HHI, the TPC-H Q5 join-order stress and Q18
agg-then-join-back classics — and a data-QA trio (lang×source chi-square
confound audit, Cohen's-kappa classifier agreement, Benford first-digit
screen), sorted-neighborhood ER windowing, an embedding covariance
probe, and token-budget curation (greedy per-source admission until a
token budget fills).

Every query follows the registry's cross-engine determinism rules
(registry.py docstring): float outputs are single divisions of exact
integer/decimal aggregates, or DECIMAL sums of pre-rounded 6-dp terms;
ranking never ties on raw doubles.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph
from etl_pipeline_for_elasticsearch_json_document_spark.queries.r7 import (
    _star_cluster_cte,
)
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q193: contamination fraction — the thresholdable decontamination score
# ---------------------------------------------------------------------------


@query(
    "q193_contamination_fraction",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                      ws[i+3] || ' ' || ws[i+4]))) AS g
      FROM toks),
tr AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 <> 0),
te AS (SELECT doc_id AS test_id, g FROM g WHERE doc_id % 10 = 0)
SELECT test_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       round(CAST(sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS contamination
FROM te LEFT JOIN tr ON te.g = tr.g
GROUP BY test_id
""",
    doc="The decontamination DECISION score q100 stops short of: per "
    "held-out test doc, the FRACTION of its distinct word 5-grams that "
    "appear anywhere in train — the thresholdable quantity (PaLM drops at "
    ">=70% overlap) where q100 only counts carrier docs. Test docs with "
    "<5 words carry no grams and drop out of both engines identically. "
    "Determinism: integer counts + one division, rounded. Scale: both "
    "sides reduce to 8-byte xxhash64 gram keys (collision odds ~2^-64 — "
    "counts only, no text); the train side collapses to DISTINCT gram "
    "hashes before the join, so the probe is |vocab|, not |corpus|; "
    "the test side is the small relation by construction.",
)
def q193(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.text import (
        word_ngrams,
    )

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 5))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    tr = (
        grams.filter(F.col("doc_id") % 10 != 0)
        .select("gh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    te = grams.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("test_id"), "gh"
    )
    return (
        te.join(tr, "gh", "left")
        .groupBy("test_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_shared"),
            F.round(
                F.sum(F.coalesce("__hit", F.lit(0))).cast("double") / F.count("*"),
                6,
            ).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# q194: dedup pareto — cost/benefit by near-dup cluster size
# ---------------------------------------------------------------------------


@query(
    "q194_dedup_pareto",
    oracle=f"""
WITH RECURSIVE
{_star_cluster_cte()},
sized AS (SELECT c.cluster_id,
                 count(*) AS cluster_size,
                 sum(d.n_chars) AS chars_total,
                 min(d.n_chars + (CASE WHEN d.doc_id = c.cluster_id
                                  THEN 0 ELSE 100000000 END)) AS chars_kept
          FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
          GROUP BY c.cluster_id)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removed,
       CAST(sum(chars_total - chars_kept) AS BIGINT) AS chars_removed
FROM sized GROUP BY cluster_size
""",
    doc="Dedup cost/benefit pareto: for each near-dup cluster size under "
    "the q103 LSH keep-min-id policy, how many clusters exist and what "
    "deleting the non-representatives saves (docs and characters) — the "
    "curve that says whether dedup pays (mass in big clusters) or is all "
    "singleton noise, BEFORE anything is deleted. chars_kept isolates the "
    "representative's size via a min over (n_chars + big-M for "
    "non-reps) — pure integer arithmetic, no join back. Determinism: "
    "exact integer counts/sums end to end. Scale: edges are the linear "
    "star set (O(docs x bands)); the per-cluster rollup and the size "
    "histogram are two partial-agg groupBys on ids and counts — text "
    "never shuffles.",
)
def q194(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    edges = dedup.lsh_bucket_edges(d, "doc_id", "text", num_hashes=16, bands=4)
    clusters = graph.dedup_clusters(edges, d, id_col="doc_id").select(
        "doc_id", "cluster_id"
    )
    sized = (
        clusters.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum("n_chars").alias("chars_total"),
            F.min(
                F.col("n_chars")
                + F.when(F.col("doc_id") == F.col("cluster_id"), 0).otherwise(
                    100_000_000
                )
            ).alias("chars_kept"),
        )
    )
    return sized.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("docs_removed"),
        F.sum(F.col("chars_total") - F.col("chars_kept"))
        .cast("bigint")
        .alias("chars_removed"),
    )


# ---------------------------------------------------------------------------
# q195: cross-source duplication matrix
# ---------------------------------------------------------------------------


@query(
    "q195_source_dup_matrix",
    oracle="""
WITH segs AS (
  SELECT DISTINCT d.source,
         md5(array_to_string(
             (string_split(d.text, ' '))[t.seg*8+1 : t.seg*8+8], ' ')) AS fp
  FROM documents d,
       unnest(range(0, len(string_split(d.text, ' ')) // 8)) AS t(seg)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_fps
FROM segs a JOIN segs b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
""",
    doc="Cross-source mirroring matrix: for every source pair, the number "
    "of distinct 8-word segments both carry — the report that finds "
    "feeds syndicating/mirroring each other (the dominant cause of "
    "cross-source near-dups), so dedup budgets and source weights (q115, "
    "q171) can be set per-PAIR, not just per-source. Determinism: exact "
    "distinct-fp counts. Scale: segments collapse to DISTINCT (source, "
    "16-byte fp) FIRST, so the self-join runs on the deduped fp relation "
    "(|sources| <= a few hundred rows per fp, bounded fan-out), and the "
    "output is the |sources|^2-bounded matrix; text never shuffles.",
)
def q195(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    segs = (
        d.select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor(F.size(ws) / 8).cast("int") - 1
                    ),
                    lambda s: F.md5(
                        F.concat_ws(" ", F.slice(ws, s * 8 + 1, 8))
                    ),
                )
            ).alias("fp"),
        )
        .filter(F.size(ws) >= 8)
        .distinct()
    )
    a = segs.select(F.col("source").alias("source_a"), "fp")
    b = segs.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fps"))
    )


# ---------------------------------------------------------------------------
# q196: head-template candidates (shared document prefixes)
# ---------------------------------------------------------------------------


@query(
    "q196_prefix_template_groups",
    oracle="""
WITH p AS (
  SELECT doc_id, source, lang,
         md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS prefix_fp
  FROM documents)
SELECT prefix_fp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM p GROUP BY prefix_fp HAVING count(*) >= 2
""",
    doc="Head-template detection: documents OPENING with the same 8 words "
    "(md5 of the prefix) — the generated-page/template signature that "
    "segment-level dedup (q38/q131/q154) dilutes across the whole doc but "
    "a head-anchored fingerprint catches directly; n_sources/n_langs "
    "separate one feed's template from an ecosystem-wide one. "
    "Determinism: exact counts over md5 fps. Scale: one map-only prefix "
    "hash per doc (first 8 words only — the text tail is never read past "
    "the split), one partial-agg groupBy on 16-byte keys.",
)
def q196(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    p = d.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias(
            "prefix_fp"
        ),
    )
    return (
        p.groupBy("prefix_fp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# q197: per-dimension embedding clip calibration
# ---------------------------------------------------------------------------


@query(
    "q197_embedding_dim_clip",
    oracle="""
WITH x AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 17)) AS t(i))
SELECT dim,
       round(quantile_cont(v, 0.01), 6) AS p01,
       round(quantile_cont(v, 0.99), 6) AS p99,
       round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_v,
       CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY dim
""",
    doc="Embedding clip calibration: per dimension (first 16), the exact "
    "p01/p99 percentiles — the clip thresholds a quantization or "
    "outlier-robust normalization step needs — plus the decimal-exact "
    "per-dim mean. Complements q188's distribution QA (which flags "
    "anomalies) by emitting the actionable clip table. Determinism: both "
    "engines use linearly-interpolated exact percentiles, rounded; the "
    "mean is a DECIMAL sum of pre-rounded values. Scale: posexplode "
    "bounded to the leading dims; one partial-agg groupBy on a 16-value "
    "key — exact percentiles sort within each dim partition; swap in "
    "approx_percentile at 100 TB (same operator shape).",
)
def q197(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 16))
    ).select(F.col("pos").alias("dim"), F.col("col").alias("v"))
    return x.groupBy("dim").agg(
        F.round(F.expr("percentile(v, 0.01)"), 6).alias("p01"),
        F.round(F.expr("percentile(v, 0.99)"), 6).alias("p99"),
        F.round(
            F.sum(F.round("v", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_v"),
        F.count("*").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# q198: packing-boundary economics across context sizes
# ---------------------------------------------------------------------------


@query(
    "q198_packing_boundary_curve",
    oracle="""
WITH wc AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS wc,
         sum(len(string_split(text, ' ')))
           OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents),
ctx AS (SELECT unnest([128, 256, 512]) AS ctx)
SELECT c.ctx, w.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w.wc) AS BIGINT) AS total_tokens,
       CAST((max(w.cum) - 1) // c.ctx + 1 AS BIGINT) AS n_packs,
       CAST(sum(CASE WHEN (w.cum - 1) // c.ctx > (w.cum - w.wc) // c.ctx
                THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       round(1.0 - CAST(sum(w.wc) AS DOUBLE)
             / (((max(w.cum) - 1) // c.ctx + 1) * c.ctx), 6) AS waste_frac
FROM wc w CROSS JOIN ctx c
GROUP BY c.ctx, w.lang
""",
    doc="Packing-boundary economics: for candidate context sizes "
    "{128, 256, 512}, per language, how many documents the q102-style "
    "token-stream packing SPLITS across a pack boundary (a multiple of "
    "ctx falls strictly inside the doc's token interval — split docs get "
    "cross-document attention unless masked) and the tail-pack waste — "
    "the table that picks a context length against q167's truncation "
    "alternative. Determinism: pure integer cumsum + integer division; "
    "one final rounded division. Scale: the per-lang running token "
    "count runs through sampling.grouped_prefix_sum's HIERARCHICAL form "
    "(r10: cumsum within doc_id-range chunks + a carry pass over "
    "per-chunk totals — byte-identical to a single per-lang window, "
    "pinned in tests/test_sampling_ops.py, but no task ever sorts a "
    "whole language's corpus slice); text reduces to its count "
    "map-side; the ctx spine is a broadcast 3-row relation; output is "
    "|ctx|x|langs|.",
)
def q198(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        grouped_prefix_sum,
    )

    d = load_table(spark, sf_dir, "documents")
    wc = grouped_prefix_sum(
        d.select("doc_id", "lang", F.size(F.split("text", " ")).alias("wc")),
        "lang", "doc_id", "wc", "cum", chunk_width=4096,
    )
    ctx = F.broadcast(
        d.sparkSession.createDataFrame([(128,), (256,), (512,)], "ctx int")
    )
    split_flag = F.when(
        ((F.col("cum") - 1) / F.col("ctx")).cast("long")
        > ((F.col("cum") - F.col("wc")) / F.col("ctx")).cast("long"),
        1,
    ).otherwise(0)
    packs = ((F.max("cum") - 1) / F.col("ctx")).cast("long") + 1
    return (
        wc.crossJoin(ctx)
        .groupBy("ctx", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("wc").cast("bigint").alias("total_tokens"),
            packs.cast("bigint").alias("n_packs"),
            F.sum(split_flag).cast("bigint").alias("n_split_docs"),
            F.round(
                1.0
                - F.sum("wc").cast("double")
                / ((((F.max("cum") - 1) / F.col("ctx")).cast("long") + 1)
                   * F.col("ctx")),
                6,
            ).alias("waste_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q199: gram document-frequency spectrum
# ---------------------------------------------------------------------------


@query(
    "q199_gram_df_spectrum",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      FROM toks WHERE len(ws) >= 3),
df AS (SELECT g, count(*) AS df FROM g GROUP BY g),
b AS (SELECT CAST(floor(log2(df)) AS BIGINT) AS df_bucket, df FROM df)
SELECT df_bucket,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(df) AS BIGINT) AS postings_mass,
       round(CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM df), 6) AS gram_frac
FROM b GROUP BY df_bucket
""",
    doc="The corpus' duplication fingerprint: word-3-gram document "
    "frequencies bucketed by power of two (df 1, 2-3, 4-7, ...) with the "
    "gram count and total postings mass per band — one glance separates a "
    "heavy-tail boilerplate corpus (mass in high-df bands, dedup pays) "
    "from organic text (mass at df=1). q184 measures dup mass per DOC, "
    "q191 the rare tail's loss; this is the corpus-level spectrum both "
    "calibrate against. Determinism: integer df counts, log2 on exact "
    "integers, one final division. Scale: grams shuffle once as 8-byte "
    "xxhash64 keys into a partial-agg df groupBy; the spectrum is a "
    "~20-row second aggregate.",
)
def q199(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.text import (
        word_ngrams,
    )

    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    df = g.groupBy("gh").agg(F.count("*").alias("df"))
    total = F.broadcast(df.agg(F.count("*").cast("double").alias("__total")))
    b = df.select(
        F.floor(F.log2("df")).cast("bigint").alias("df_bucket"), "df"
    )
    return (
        b.groupBy("df_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum("df").cast("bigint").alias("postings_mass"),
        )
        .crossJoin(total)
        .select(
            "df_bucket",
            "n_grams",
            "postings_mass",
            F.round(F.col("n_grams") / F.col("__total"), 6).alias("gram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q200: label-cluster silhouette over embeddings
# ---------------------------------------------------------------------------


@query(
    "q200_label_silhouette",
    oracle="""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
dims AS (SELECT label, i AS dim,
                round(CAST(sum(CAST(v[i] AS DECIMAL(18,9))) AS DOUBLE)
                      / count(*), 6) AS c
         FROM e, unnest(range(1, 65)) AS t(i) GROUP BY label, i),
cents AS (SELECT label, list(c ORDER BY dim) AS c FROM dims GROUP BY label),
dist AS (SELECT e.vec_id, e.label AS vlabel, c.label AS clabel,
                round(list_sum(list_transform(range(1, 65),
                    i -> (v[i] - c.c[i]) * (v[i] - c.c[i]))), 6) AS d2
         FROM e CROSS JOIN cents c),
ab AS (SELECT vec_id, vlabel,
              min(CASE WHEN vlabel = clabel THEN d2 END) AS a,
              min(CASE WHEN vlabel <> clabel THEN d2 END) AS b
       FROM dist GROUP BY vec_id, vlabel),
s AS (SELECT vlabel AS label,
             CASE WHEN greatest(a, b) = 0 THEN 0.0
                  ELSE round((b - a) / greatest(a, b), 6) END AS s
      FROM ab)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS mean_silhouette
FROM s GROUP BY label
""",
    doc="Centroid-silhouette label audit: per label, the mean of "
    "(b - a) / max(a, b) where a is a vector's squared distance to its "
    "OWN label centroid and b the minimum to any OTHER centroid — the "
    "one-number answer to 'are these labels real clusters?' that q189's "
    "margin audit prices per-vector. Near 1: tight separated clusters; "
    "near 0 or negative: labels that sampling or curriculum code should "
    "not trust. Determinism: centroids are DECIMAL(18,9) per-dim sums "
    "divided once and rounded; distances are index-ordered folds rounded "
    "to 6 dp BEFORE the min/ratio; the mean is a DECIMAL sum of rounded "
    "terms. Scale: centroids are a |labels| x dim table (broadcast); the "
    "per-vector pass is map-only against it.",
)
def q200(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        e.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("c")
        )
    )
    cents = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    dist = (
        e.crossJoin(
            F.broadcast(cents.select(F.col("label").alias("clabel"), "c"))
        )
        .select("vec_id", F.col("label").alias("vlabel"), "clabel", d2.alias("d2"))
    )
    ab = dist.groupBy("vec_id", "vlabel").agg(
        F.min(F.when(F.col("vlabel") == F.col("clabel"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("vlabel") != F.col("clabel"), F.col("d2"))).alias("b"),
    )
    s = ab.select(
        F.col("vlabel").alias("label"),
        F.when(F.greatest("a", "b") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6))
        .alias("s"),
    )
    return s.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(
            F.sum(F.col("s").cast("decimal(18,6)")).cast("double") / F.count("*"),
            6,
        ).alias("mean_silhouette"),
    )


# ---------------------------------------------------------------------------
# q201: market-basket lift over order baskets
# ---------------------------------------------------------------------------


@query(
    "q201_basket_lift",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n AS (SELECT pk, count(*) AS n FROM li GROUP BY pk),
t AS (SELECT count(DISTINCT ok) AS t FROM li),
pairs AS (SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_pair
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY a.pk, b.pk HAVING count(*) >= 3)
SELECT p1, p2, CAST(n_pair AS BIGINT) AS n_pair,
       round(CAST(n_pair AS DOUBLE) * (SELECT t FROM t)
             / (n1.n * n2.n), 6) AS lift
FROM pairs JOIN n n1 ON n1.pk = p1 JOIN n n2 ON n2.pk = p2
ORDER BY round(CAST(n_pair AS DOUBLE) * (SELECT t FROM t)
             / (n1.n * n2.n), 6) DESC, p1, p2
LIMIT 20
""",
    doc="Market-basket affinity: part pairs co-occurring in >=3 orders, "
    "ranked by lift (pair frequency over the independence expectation) — "
    "the classic association-rule screen, run basket-native on the order "
    "line items. Determinism: integer co-occurrence counts; lift is one "
    "rounded division of integers; ranking orders by the ROUNDED lift "
    "with (p1, p2) tiebreak. Scale: baskets are bounded (an order has "
    "~few lineitems), so the within-order self-join fans out "
    "O(basket^2) per order — bounded, never corpus-quadratic; the "
    "min-support HAVING prunes before the marginal joins; the per-part "
    "marginals are fact-derived (they scale with the part count), so "
    "they join un-hinted — AQE broadcasts them only when they fit. The "
    "single explicit broadcast is the 1-row basket-total aggregate.",
)
def q201(spark, sf_dir):
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n = li.groupBy("pk").agg(F.count("*").alias("n"))
    t = F.broadcast(li.agg(F.countDistinct("ok").cast("double").alias("__t")))
    a = li.select("ok", F.col("pk").alias("p1"))
    b = li.select("ok", F.col("pk").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    lift = F.round(
        F.col("n_pair").cast("double") * F.col("__t") / (F.col("n1") * F.col("n2")),
        6,
    )
    return (
        # Plain equi-joins for the per-part marginals: `n` is derived from
        # the fact table (one row per part, 200k/SF in TPC-H), so a forced
        # broadcast would scale with the corpus. The pairs side is already
        # min-support-pruned; AQE broadcasts `n` when it actually fits.
        pairs.join(n.select(F.col("pk").alias("p1"), F.col("n").alias("n1")), "p1")
        .join(n.select(F.col("pk").alias("p2"), F.col("n").alias("n2")), "p2")
        .crossJoin(t)
        .select("p1", "p2", F.col("n_pair").cast("bigint").alias("n_pair"), lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q202: supplier-concentration HHI per part
# ---------------------------------------------------------------------------


@query(
    "q202_supply_concentration",
    oracle="""
WITH sq AS (SELECT l_partkey AS pk, l_suppkey AS sk,
                   sum(CAST(l_quantity AS DECIMAL(18,4))) AS q
            FROM lineitem GROUP BY l_partkey, l_suppkey)
SELECT pk AS p_partkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(q) AS DOUBLE) AS total_qty,
       round(CAST(sum(q * q) AS DOUBLE)
             / (CAST(sum(q) AS DOUBLE) * CAST(sum(q) AS DOUBLE)), 6) AS hhi
FROM sq GROUP BY pk
""",
    doc="Supply-concentration audit: per part, the Herfindahl-Hirschman "
    "index of shipped quantity across suppliers — sum of squared supplier "
    "shares, computed as sum(q^2)/sum(q)^2 so the only float operation is "
    "ONE final division of exact DECIMAL aggregates (per-supplier shares "
    "are never materialized as floats). 1.0 = single-sourced part (supply "
    "risk), 1/n = evenly spread. Determinism: DECIMAL(18,4) quantity "
    "sums, DECIMAL products, one rounded division. Scale: two partial-agg "
    "groupBys, (part, supplier) then part — the classic re-aggregation "
    "that reuses the first shuffle's partitioning.",
)
def q202(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sq = li.groupBy(
        F.col("l_partkey").alias("p_partkey"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
    return sq.groupBy("p_partkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("q").cast("double").alias("total_qty"),
        F.round(
            F.sum(F.col("q") * F.col("q")).cast("double")
            / (F.sum("q").cast("double") * F.sum("q").cast("double")),
            6,
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# q203: TPC-H Q5 shape — local-supplier volume (5-way join + region filter)
# ---------------------------------------------------------------------------


@query(
    "q203_tpch_q5_local_volume",
    oracle="""
SELECT n.n_name,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    doc="TPC-H Q5 (local supplier volume): revenue by nation where the "
    "customer and the line's supplier share a nation, restricted to one "
    "region and one order year — the classic 6-relation join-order "
    "stress (two selective dims, one fact-fact-dim chain, a non-key "
    "equality between two dims). Catalyst broadcasts the four dim "
    "relations and reorders around the lineitem⋈orders spine; revenue "
    "is a DECIMAL(18,6) sum (exact, order-independent). Scale: one fact "
    "shuffle on the join keys; only the constant-cardinality dims "
    "(nation=25, region=5 rows at every SF) carry explicit broadcast "
    "hints — supplier/customer scale linearly with SF, so their join "
    "strategy is left to AQE, which still picks broadcast when the "
    "filtered side fits but degrades to shuffle instead of OOM at the "
    "100 TB design point.",
)
def q203(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    # Deliberately NO under-split fan-out on the fact (r14, VERDICT r13
    # item 1 candidate): measured on the ×10 single-file ladder replica,
    # interleaved quiet-box A/B — 3.07 s without vs 8.47 s with the q01
    # gated round-robin exchange. Unlike q01 (eight exact-decimal
    # aggregates per row above the scan), the work here is hash-join
    # probes + ONE decimal sum — cheaper than shuffling 6M narrow rows
    # (round-robin also pays its sort-before-repartition). At 100 TB the
    # input arrives well-split and the question vanishes.
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            # No broadcast hint: supplier is fact-scaled (10k rows/SF in
            # TPC-H, ~1B at the 100 TB point). AQE broadcasts it when it
            # fits and falls back to shuffle when it doesn't; a forced
            # hint would OOM instead of degrading.
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double"),
            2,
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# q204: TPC-H Q18 shape — large-volume orders joined back to customers
# ---------------------------------------------------------------------------


@query(
    "q204_large_order_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 250)
SELECT c.c_name, b.l_orderkey AS o_orderkey, o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    doc="TPC-H Q18 (large-volume orders): orders whose total line quantity "
    "exceeds 250, joined back to their customer — the aggregate-then-"
    "semi-join-back pattern (the HAVING prunes the fact to a sliver "
    "BEFORE the dimension joins, so orders/customer join against ~top-"
    "percentile keys only). Quantity sums are DECIMAL-exact. Scale: one "
    "partial-agg shuffle on l_orderkey; the surviving key set is small "
    "by construction, and AQE turns the follow-up joins into broadcasts.",
)
def q204(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__q")
        )
        .filter(F.col("__q") > 250)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("__q").cast("double").alias("sum_qty"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, "o_orderkey")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# q205: lang × source chi-square independence audit
# ---------------------------------------------------------------------------


@query(
    "q205_lang_source_chi2",
    oracle="""
WITH cells AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
rows_ AS (SELECT lang, count(*) AS rn FROM documents GROUP BY 1),
cols AS (SELECT source, count(*) AS cn FROM documents GROUP BY 1),
tot AS (SELECT count(*) AS n FROM documents),
grid AS (
  SELECT r.lang, c.source, r.rn, c.cn, coalesce(x.o, 0) AS o,
         CAST(r.rn AS DOUBLE) * c.cn / (SELECT n FROM tot) AS e
  FROM rows_ r CROSS JOIN cols c
  LEFT JOIN cells x ON x.lang = r.lang AND x.source = c.source)
SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs,
       CAST(((SELECT count(*) FROM rows_) - 1)
            * ((SELECT count(*) FROM cols) - 1) AS BIGINT) AS dof,
       round(CAST(sum(CAST(round((o - e) * (o - e) / e, 6)
             AS DECIMAL(18,6))) AS DOUBLE), 4) AS chi2
FROM grid
""",
    doc="Corpus-composition independence audit: the chi-square statistic "
    "of the lang × source contingency table — a large value means "
    "language and source are CONFOUNDED, so per-source sampling (q115/"
    "q171) silently reweights languages and vice versa; the number that "
    "says whether the two mixture knobs can be tuned independently. "
    "Zero-observed cells enter with their expected mass (the marginal "
    "cross join supplies them). Determinism: o/rn/cn are exact integers; "
    "each cell's (o−e)²/e is rounded to 6 dp then summed as DECIMAL. "
    "Scale: three partial-agg groupBys over the corpus; the grid is "
    "|langs|×|sources| broadcast-sized.",
)
def q205(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_ = d.groupBy("lang").agg(F.count("*").alias("rn"))
    cols = d.groupBy("source").agg(F.count("*").alias("cn"))
    tot = F.broadcast(d.agg(F.count("*").alias("n")))
    grid = (
        rows_.crossJoin(F.broadcast(cols))
        .join(cells, ["lang", "source"], "left")
        .crossJoin(tot)
        .select(
            "n",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("rn").cast("double") * F.col("cn") / F.col("n")).alias("e"),
        )
    )
    nr = F.broadcast(rows_.agg(F.count("*").alias("nr")))
    nc = F.broadcast(cols.agg(F.count("*").alias("nc")))
    term = F.round((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), 6)
    return (
        grid.agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(term.cast("decimal(18,6)")).cast("double"), 4
            ).alias("chi2"),
        )
        .crossJoin(nr)
        .crossJoin(nc)
        .select(
            "n_docs",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
            "chi2",
        )
    )


# ---------------------------------------------------------------------------
# q206: language-ID agreement as Cohen's kappa
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    from etl_pipeline_for_elasticsearch_json_document_spark.queries.r6 import (
        _LANG_PROFILES,
    )

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
           ELSE '{langs[-1]}' END AS pred_lang
  FROM sc),
tot AS (SELECT count(*) AS n FROM p),
agree AS (SELECT count(*) AS a FROM p WHERE lang = pred_lang),
rm AS (SELECT lang AS cat, count(*) AS rn FROM p GROUP BY 1),
cm AS (SELECT pred_lang AS cat, count(*) AS cn FROM p GROUP BY 1),
pe AS (SELECT sum(CAST(rm.rn AS DOUBLE) * cm.cn
                  / ((SELECT n FROM tot) * CAST((SELECT n FROM tot) AS DOUBLE)))
         AS pe
       FROM rm JOIN cm ON rm.cat = cm.cat)
SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs,
       round(CAST((SELECT a FROM agree) AS DOUBLE) / (SELECT n FROM tot), 6) AS po,
       round((SELECT pe FROM pe), 6) AS pe,
       round((CAST((SELECT a FROM agree) AS DOUBLE) / (SELECT n FROM tot)
              - (SELECT pe FROM pe)) / (1 - (SELECT pe FROM pe)), 6) AS kappa
"""


@query(
    "q206_langid_kappa",
    oracle=_kappa_oracle(),
    doc="Classifier-agreement scalar: Cohen's kappa between the labeled "
    "language and q169's stopword-profile argmax prediction — chance-"
    "corrected accuracy ((po − pe)/(1 − pe)), the one-number summary "
    "q169's confusion matrix expands. Labels outside the classifier's "
    "4-language repertoire (zh here) can never agree, depressing kappa "
    "exactly as they should. Determinism: po/pe are divisions of exact "
    "integer counts; kappa is one float expression of those two, rounded. "
    "Scale: the token stream reduces map-side to 4 conditional sums per "
    "doc; everything after is |langs|-sized.",
)
def q206(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.queries.r6 import (
        _LANG_PROFILES,
    )

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
    p = sc.select("lang", pred.alias("pred_lang"))
    rm = p.groupBy("lang").agg(F.count("*").alias("rn")).withColumnRenamed("lang", "cat")
    cm = (
        p.groupBy("pred_lang")
        .agg(F.count("*").alias("cn"))
        .withColumnRenamed("pred_lang", "cat")
    )
    tots = F.broadcast(
        p.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("lang") == F.col("pred_lang"), 1).otherwise(0)).alias(
                "a"
            ),
        )
    )
    pe_rel = F.broadcast(
        rm.join(cm, "cat")
        .crossJoin(tots)
        .agg(
            F.sum(
                F.col("rn").cast("double") * F.col("cn")
                / (F.col("n") * F.col("n").cast("double"))
            ).alias("pe")
        )
    )
    po = F.col("a").cast("double") / F.col("n")
    return tots.crossJoin(pe_rel).select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(po, 6).alias("po"),
        F.round("pe", 6).alias("pe"),
        F.round((po - F.col("pe")) / (1 - F.col("pe")), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q207: blocked sorted-neighborhood entity resolution
# ---------------------------------------------------------------------------


@query(
    "q207_sorted_neighborhood",
    oracle="""
WITH keyed AS (
  SELECT doc_id, string_split(text, ' ')[1] AS blk, n_chars,
         row_number() OVER (PARTITION BY string_split(text, ' ')[1]
                            ORDER BY n_chars, doc_id) AS rn
  FROM documents),
cand AS (
  SELECT a.blk, a.doc_id AS a_id, b.doc_id AS b_id
  FROM keyed a JOIN keyed b
    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 2),
words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
sizes AS (SELECT doc_id, count(*) AS sz FROM words GROUP BY 1),
inter AS (
  SELECT c.blk, c.a_id, c.b_id, count(*) AS i
  FROM cand c
  JOIN words wa ON wa.doc_id = c.a_id
  JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
  GROUP BY 1, 2, 3),
j AS (
  SELECT c.blk,
         round(CAST(coalesce(i.i, 0) AS DOUBLE)
               / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) AS jacc
  FROM cand c
  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
  JOIN sizes sa ON sa.doc_id = c.a_id
  JOIN sizes sb ON sb.doc_id = c.b_id)
SELECT blk,
       CAST(count(*) AS BIGINT) AS n_cand_pairs,
       CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
       max(jacc) AS max_jacc
FROM j GROUP BY blk
""",
    doc="Blocked sorted-neighborhood ER (Hernandez-Stolfo windowing, the "
    "third classic blocker next to q125's blocking keys and q187's "
    "audit): within each first-word block, docs sorted by (n_chars, id) "
    "pair only with their 2 sort-neighbors — the neighbor offset is part "
    "of the JOIN KEY ((blk, rn+off) vs (blk, rn_b)), so both the output "
    "AND the join work scale O(docs × window), never block-quadratic "
    "even inside a hot stopword block — then exact word-set Jaccard "
    "verifies. Per-block report: candidates, matches at 0.5, best score. "
    "Determinism: Jaccard is a rounded exact rational; the sort key is "
    "unique via the id tiebreak. Scale: the window sort partitions by "
    "block (no global sort); verification joins move candidate-pair "
    "postings only.",
)
def q207(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("blk"),
        "n_chars",
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("n_chars", "doc_id")
        ),
    )
    # Neighbor-offset equi-join: explode each left row into its two
    # window offsets and join on (blk, rn + off) == (blk, rn_b). The rank
    # is UNIQUE within a block (row_number), so each (blk, rb) key matches
    # at most one right row — join work is O(docs × window) by
    # construction. The naive alternative (equi-join on blk alone, then a
    # band filter rb in (ra, ra+2]) enumerates |block|^2 pairs inside a
    # hot block (most docs share a stopword first word) before the filter
    # runs — the exact block-quadratic blowup sorted-neighborhood exists
    # to avoid.
    a = keyed.select("blk", F.col("doc_id").alias("a_id"), F.col("rn").alias("ra"))
    b = keyed.select("blk", F.col("doc_id").alias("b_id"), F.col("rn").alias("rb"))
    cand = (
        a.withColumn("off", F.explode(F.array(F.lit(1), F.lit(2))))
        .withColumn("rb", F.col("ra") + F.col("off"))
        .join(b, ["blk", "rb"])
        .select("blk", "a_id", "b_id")
    )
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(words.select(F.col("doc_id").alias("a_id"), "w"), "a_id")
        .join(words.select(F.col("doc_id").alias("b_id"), "w"), ["b_id", "w"])
        .groupBy("blk", "a_id", "b_id")
        .agg(F.count("*").alias("i"))
    )
    j = (
        cand.join(inter.select("a_id", "b_id", "i"), ["a_id", "b_id"], "left")
        .join(sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sa")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sb")), "b_id")
        .select(
            "blk",
            F.round(
                F.coalesce("i", F.lit(0)).cast("double")
                / (F.col("sa") + F.col("sb") - F.coalesce("i", F.lit(0))),
                6,
            ).alias("jacc"),
        )
    )
    return j.groupBy("blk").agg(
        F.count("*").cast("bigint").alias("n_cand_pairs"),
        F.sum(F.when(F.col("jacc") >= 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
        F.max("jacc").alias("max_jacc"),
    )


# ---------------------------------------------------------------------------
# q208: Benford first-digit audit
# ---------------------------------------------------------------------------


@query(
    "q208_benford_price_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
         AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1),
tot AS (SELECT count(*) AS n FROM d)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 6) AS obs_share,
       round(log10(1 + 1.0 / digit), 6) AS benford_share,
       round(round(CAST(count(*) AS DOUBLE) / (SELECT n FROM tot), 6)
             - round(log10(1 + 1.0 / digit), 6), 6) AS excess
FROM d GROUP BY digit
""",
    doc="Benford first-digit audit over order totals: observed leading-"
    "digit shares vs Benford's log10(1 + 1/d) expectation — the classic "
    "fabricated-/truncated-data screen for numeric feeds (synthetic "
    "uniform prices fail it loudly, which is itself the point of the "
    "report). Determinism: digits come from exact integer string heads; "
    "shares are single divisions; both engines' libm log10 agree far "
    "inside the 6-dp rounding. Scale: map-only digit extraction + one "
    "9-row groupBy; the total rides as a broadcast 1-row aggregate.",
)
def q208(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    tot = F.broadcast(d.agg(F.count("*").cast("double").alias("__n")))
    obs = F.round(F.col("n_orders") / F.col("__n"), 6)
    ben = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(tot)
        .select(
            "digit",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            obs.alias("obs_share"),
            ben.alias("benford_share"),
            F.round(obs - ben, 6).alias("excess"),
        )
    )


# ---------------------------------------------------------------------------
# q209: embedding covariance probe (leading dims)
# ---------------------------------------------------------------------------


@query(
    "q209_embedding_cov_probe",
    oracle="""
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, 9)) AS t(i)),
m AS (SELECT dim, CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*)
        AS mean_v, count(*) AS n
      FROM x GROUP BY dim),
p AS (SELECT a.dim AS dim_i, b.dim AS dim_j,
             CAST(sum(CAST(round(a.v * b.v, 9) AS DECIMAL(28,12))) AS DOUBLE)
               AS sxy,
             count(*) AS n
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim < b.dim
      GROUP BY 1, 2)
SELECT p.dim_i, p.dim_j,
       round(p.sxy / p.n - mi.mean_v * mj.mean_v, 6) AS cov
FROM p JOIN m mi ON mi.dim = p.dim_i JOIN m mj ON mj.dim = p.dim_j
""",
    doc="Embedding covariance probe: pairwise covariance of the leading 8 "
    "dimensions (E[xy] − E[x]E[y]) — strong off-diagonal mass means the "
    "encoder's dims are correlated and whitening/PCA would pay before "
    "quantization (q107) or matryoshka truncation (q150); q188 looks at "
    "dims one at a time, this is the cross-term check. Determinism: "
    "means divide DECIMAL sums; cross-products are rounded to 9 dp then "
    "DECIMAL-summed; one final float expression, rounded. Scale: the "
    "probe is dims²-bounded (28 pairs); the per-vector self-join fans "
    "out 8×8 within a vec_id — constant per row.",
)
def q209(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 8)),
    ).select("vec_id", F.col("pos").alias("dim"), F.col("col").alias("v"))
    m = x.groupBy("dim").agg(
        (
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*")
        ).alias("mean_v")
    )
    a = x.select("vec_id", F.col("dim").alias("dim_i"), F.col("v").alias("va"))
    b = x.select("vec_id", F.col("dim").alias("dim_j"), F.col("v").alias("vb"))
    p = (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") < F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum(F.round(F.col("va") * F.col("vb"), 9).cast("decimal(28,12)"))
            .cast("double")
            .alias("sxy"),
            F.count("*").alias("n"),
        )
    )
    mi = F.broadcast(m.select(F.col("dim").alias("dim_i"), F.col("mean_v").alias("mi")))
    mj = F.broadcast(m.select(F.col("dim").alias("dim_j"), F.col("mean_v").alias("mj")))
    return (
        p.join(mi, "dim_i")
        .join(mj, "dim_j")
        .select(
            "dim_i",
            "dim_j",
            F.round(F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj"), 6).alias(
                "cov"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q210: budget-constrained quality selection (token-budget curation)
# ---------------------------------------------------------------------------

_STOPS_210 = ("the", "a", "an", "and", "or", "of", "to", "in", "is")
_STOPS_210_SQL = ", ".join(f"'{s}'" for s in _STOPS_210)


@query(
    "q210_budget_selection",
    oracle=f"""
WITH m AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS wc,
         round(CAST(len(list_filter(string_split(text, ' '),
                     w -> list_contains([{_STOPS_210_SQL}], w))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS q
  FROM documents),
r AS (
  SELECT source, wc, q,
         sum(wc) OVER (PARTITION BY source ORDER BY q DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM m),
sel AS (SELECT * FROM r WHERE cum <= 2000)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(wc) AS BIGINT) AS tokens_used,
       round(sum(wc) / 2000.0, 6) AS utilization,
       min(q) AS cutoff_quality
FROM sel GROUP BY source
""",
    doc="Token-budget curation: per source, greedily admit the highest-"
    "quality documents (stopword-ratio score, doc-id tiebreak) until a "
    "2000-token budget fills — the budgeted-selection shape every "
    "fixed-size training-mix build runs (pick the best N tokens per "
    "feed), reported as docs admitted, budget utilization, and the "
    "admission-threshold quality (the score a new doc must beat). "
    "Strict-prefix semantics: selection stops at the first doc whose "
    "admission would overflow. Determinism: the score is one rounded "
    "integer division; ranking orders by (rounded score, doc_id); the "
    "cumsum is integer. Scale: quality and word counts are map-only and "
    "text never shuffles (only (id, wc, q) rows); the greedy admission "
    "prefix sum runs sampling.grouped_prefix_sum's HIERARCHICAL form "
    "(r10): the 6dp score becomes an exact integer key (1e6 − q·1e6, "
    "monotone in q desc; equal scores share a chunk so the doc_id "
    "tiebreak stays inside one chunk-bounded window), cumsums run per "
    "(source, score-range chunk) and one carry pass over per-chunk "
    "totals finishes — no task ever sorts a whole source's corpus "
    "slice; output is |sources| rows.",
)
def q210(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    m = d.select(
        "doc_id",
        "source",
        F.size(ws).alias("wc"),
        F.round(
            F.size(F.filter(ws, lambda w: w.isin(*_STOPS_210))).cast("double")
            / F.size(ws),
            6,
        ).alias("q"),
    )
    # descending quality as an ascending integer key: q has exactly 6dp
    # (rounded above), so 1e6 - round(q*1e6) is exact and monotone in
    # q desc; equal q share a key (and thus a chunk), doc_id tiebreaks
    # inside the local window — the composite order decomposes exactly.
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sampling import (
        grouped_prefix_sum,
    )

    keyed = m.withColumn(
        "qkey", (F.lit(1_000_000) - F.round(F.col("q") * 1e6).cast("long"))
    )
    sel = grouped_prefix_sum(
        keyed, "source", "qkey", "wc", "cum", chunk_width=4096,
        tiebreak_cols=["doc_id"],
    ).filter(F.col("cum") <= 2000)
    return sel.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_selected"),
        F.sum("wc").cast("bigint").alias("tokens_used"),
        F.round(F.sum("wc") / 2000.0, 6).alias("utilization"),
        F.min("q").alias("cutoff_quality"),
    )
