"""Round-7 query registrations: the curation-policy layer of an LLM data
pipeline — Gopher-style quality gates, duplicate-n-gram mass (the
repetition signal Gopher filters on beyond q36's top-bigram share), DSIR
hashed-n-gram importance weights for targeted data selection,
survivorship policy over near-dup clusters (keep-best, not keep-first),
an entity-resolution blocking audit (recall/cost of candidate
generators priced BEFORE the quadratic join), per-dimension embedding QA,
centroid-margin label-noise estimation, train/test near-dup leakage,
a dedup knowledge-loss audit (rare tokens whose only carriers get
dropped), and text-vs-embedding dedup signal agreement.

Every query follows the registry's cross-engine determinism rules
(registry.py docstring): float outputs are single divisions of exact
integer/decimal aggregates, or DECIMAL(18,6) sums of pre-rounded 6-dp
terms; ranking never ties on raw doubles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph, sampling
from etl_pipeline_for_elasticsearch_json_document_spark.queries import lsh_oracle
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q183: Gopher-style quality rule gates
# ---------------------------------------------------------------------------

_STOPS = ("the", "a", "an", "and", "or", "of", "to", "in", "is")
_STOPS_SQL = ", ".join(f"'{s}'" for s in _STOPS)


@query(
    "q183_gopher_rules",
    oracle=f"""
WITH m AS (
  SELECT source,
         len(string_split(text, ' ')) AS wc,
         CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
              AS DOUBLE) / len(string_split(text, ' ')) AS mwl,
         len(list_filter(string_split(text, ' '),
                         w -> regexp_matches(w, '[a-z]'))) AS na,
         len(list_filter(string_split(text, ' '),
                         w -> list_contains([{_STOPS_SQL}], w))) AS ns
  FROM documents),
r AS (
  SELECT source,
         CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
         CASE WHEN mwl >= 3 AND mwl <= 10 THEN 1 ELSE 0 END AS r_mwl,
         CASE WHEN CAST(na AS DOUBLE) / wc >= 0.8 THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN ns >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM m)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(r_wc) AS BIGINT) AS pass_wordcount,
       CAST(sum(r_mwl) AS BIGINT) AS pass_meanwordlen,
       CAST(sum(r_alpha) AS BIGINT) AS pass_alpha,
       CAST(sum(r_stop) AS BIGINT) AS pass_stopwords,
       CAST(sum(r_wc * r_mwl * r_alpha * r_stop) AS BIGINT) AS pass_all
FROM r GROUP BY source
""",
    doc="Gopher-style quality gates (Rae et al. 2021 §A1.1) per source: "
    "word count in [50, 1e5], mean word length in [3, 10], >=80% of words "
    "containing an alphabetic character, and >=2 stop words — the standard "
    "pre-training document filter battery, reported as per-rule AND "
    "all-rules pass counts so each rule's bite is visible before any doc "
    "is dropped (pairs with q179's redundancy matrix, which prices rule "
    "OVERLAP). Determinism: every rule compares exact integer counts or a "
    "single bigint/bigint division — no accumulated float sums. Scale: "
    "map-only per-doc expressions (one split, three higher-order filters, "
    "all codegen'd) + one partial-agg groupBy on source; text never "
    "shuffles.",
)
def q183(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    wc = F.size(ws)
    sumlen = F.expr(
        "aggregate(transform(split(text, ' '), w -> length(w)), 0L, (a, b) -> a + b)"
    )
    mwl = sumlen / wc
    na = F.expr("size(filter(split(text, ' '), w -> w rlike '[a-z]'))")
    ns = F.size(
        F.filter(ws, lambda w: w.isin(*_STOPS))
    )
    r_wc = ((wc >= 50) & (wc <= 100000)).cast("int")
    r_mwl = ((mwl >= 3) & (mwl <= 10)).cast("int")
    r_alpha = ((na.cast("double") / wc) >= 0.8).cast("int")
    r_stop = (ns >= 2).cast("int")
    m = d.select(
        "source",
        r_wc.alias("r_wc"),
        r_mwl.alias("r_mwl"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
    )
    return m.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("r_wc").cast("bigint").alias("pass_wordcount"),
        F.sum("r_mwl").cast("bigint").alias("pass_meanwordlen"),
        F.sum("r_alpha").cast("bigint").alias("pass_alpha"),
        F.sum("r_stop").cast("bigint").alias("pass_stopwords"),
        F.sum(F.col("r_wc") * F.col("r_mwl") * F.col("r_alpha") * F.col("r_stop"))
        .cast("bigint")
        .alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# q184: duplicate-n-gram mass (Gopher repetition filters beyond q36)
# ---------------------------------------------------------------------------


def _dup_mass_sql(n: int) -> str:
    """Per-doc duplicate-mass fraction of word n-grams: share of n-gram
    OCCURRENCES that are repeats of an n-gram already seen in the doc."""
    return f"""
  SELECT doc_id,
         CAST(sum(c - 1) AS DOUBLE) / sum(c) AS f
  FROM (SELECT doc_id, s, count(*) AS c
        FROM (SELECT doc_id,
                     array_to_string(ws[i:i+{n - 1}], ' ') AS s
              FROM w, unnest(range(1, len(ws) - {n} + 2)) AS t(i)) g
        GROUP BY doc_id, s) c
  GROUP BY doc_id"""


@query(
    "q184_dup_ngram_mass",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 5),
f2 AS ({_dup_mass_sql(2)}),
f3 AS ({_dup_mass_sql(3)}),
j AS (SELECT d.source, round(f2.f, 6) AS f2, round(f3.f, 6) AS f3
      FROM documents d JOIN f2 ON d.doc_id = f2.doc_id
      JOIN f3 ON d.doc_id = f3.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(f2 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_dup2,
       round(max(f2), 6) AS max_dup2,
       round(CAST(sum(CAST(f3 AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_dup3,
       CAST(count(*) FILTER (WHERE f2 > 0.05) AS BIGINT) AS n_repetitive
FROM j GROUP BY source
""",
    doc="Gopher duplicate-n-gram filters (Rae et al. 2021 §A1.1, 'duplicate "
    "n-gram fraction'): per doc, the share of word 2-gram / 3-gram "
    "occurrences that repeat an n-gram already seen in the SAME doc — the "
    "looping/degenerate-text signal q36's top-bigram share underestimates "
    "when repetition is spread over many distinct n-grams. Rolled up per "
    "source with a >5%-dup-mass repetitive-doc count. Determinism: per-doc "
    "fraction is one bigint/bigint division rounded to 6 dp; source "
    "averages sum those exact DECIMAL(18,6) terms. Scale: n-grams are "
    "keyed (doc_id, gram) — the groupBy partial-aggregates map-side within "
    "each doc's partition and gram strings never leave their doc's "
    "executor un-reduced; output relation is |sources| rows.",
)
def q184(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    base = d.select("doc_id", "source", ws.alias("ws")).filter(F.size("ws") >= 5)

    def dup_mass(n: int):
        grams = base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) - {n}), "
                    f"i -> array_join(slice(ws, i + 1, {n}), ' '))"
                )
            ).alias("s"),
        )
        return (
            grams.groupBy("doc_id", "s")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                (F.sum(F.col("c") - 1).cast("double") / F.sum("c")).alias("f")
            )
            .select("doc_id", F.round("f", 6).alias(f"f{n}"))
        )

    j = (
        base.select("doc_id", "source")
        .join(dup_mass(2), "doc_id")
        .join(dup_mass(3), "doc_id")
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("f2").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_dup2"),
        F.round(F.max("f2"), 6).alias("max_dup2"),
        F.round(
            F.sum(F.col("f3").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_dup3"),
        F.sum((F.col("f2") > 0.05).cast("int")).cast("bigint").alias("n_repetitive"),
    )


# ---------------------------------------------------------------------------
# q185: DSIR hashed-n-gram importance weights
# ---------------------------------------------------------------------------

_DSIR_V = 4096  # hashed feature buckets: first 3 hex chars of md5(word)


@query(
    "q185_dsir_importance",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
b AS (SELECT doc_id, lang, substring(md5(w), 1, 3) AS bk FROM tok),
stats AS (
  SELECT bk,
         count(*) AS cr,
         count(*) FILTER (WHERE lang = 'en') AS ct
  FROM b GROUP BY bk),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM stats),
term AS (
  SELECT bk,
         CAST(round(log2(((ct + 1) / (nt + {_DSIR_V}.0))
                         / ((cr + 1) / (nr + {_DSIR_V}.0))), 6)
              AS DECIMAL(18,6)) AS lr
  FROM stats, tot),
docb AS (SELECT doc_id, lang, bk, count(*) AS c FROM b GROUP BY doc_id, lang, bk)
SELECT doc_id, lang,
       CAST(sum(c) AS BIGINT) AS n_toks,
       round(CAST(sum(c * lr) AS DOUBLE) / sum(c), 6) AS importance
FROM docb JOIN term USING (bk)
GROUP BY doc_id, lang
""",
    doc="DSIR data selection with importance resampling (Xie et al. 2023): "
    "per-doc importance weight = mean log-ratio of target vs raw hashed "
    "unigram probabilities (V=4096 md5 buckets, add-one smoothing), target "
    "= the English slice. Docs whose token distribution looks like the "
    "target get weight > 0 — the cheap, training-free signal for sampling "
    "a raw crawl toward a target domain. Determinism: per-bucket log-ratio "
    "is rounded to 6 dp then DECIMAL-weighted by exact occurrence counts; "
    "the per-doc weight is one division of those exact sums. Scale: the "
    "feature table is <=V rows (broadcast); the corpus contributes two "
    "partial-agg groupBys keyed by 3-hex-char buckets — raw text never "
    "shuffles, and V is a constant independent of corpus size.",
)
def q185(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    b = tok.select("doc_id", "lang", F.substring(F.md5("w"), 1, 3).alias("bk"))
    stats = b.groupBy("bk").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ct"),
    )
    tot = stats.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    term = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "bk",
            F.round(
                F.log2(
                    ((F.col("ct") + 1) / (F.col("nt") + float(_DSIR_V)))
                    / ((F.col("cr") + 1) / (F.col("nr") + float(_DSIR_V)))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lr"),
        )
    )
    docb = b.groupBy("doc_id", "lang", "bk").agg(F.count("*").alias("c"))
    return (
        docb.join(F.broadcast(term), "bk")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_toks"),
            F.round(
                F.sum(F.col("c") * F.col("lr")).cast("double") / F.sum("c"), 6
            ).alias("importance"),
        )
    )


# ---------------------------------------------------------------------------
# q186: survivorship policy over near-dup clusters (keep-best)
# ---------------------------------------------------------------------------


def _star_cluster_cte(num_hashes: int = 16, bands: int = 4) -> str:
    """The q103 LSH star-closure as a reusable WITH-body: yields
    ``clusters(doc_id, cluster_id)``. Same md5 family as operators/dedup."""
    return f"""
{lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
{lsh_oracle.STAR_CLOSURE},
clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)"""


@query(
    "q186_best_of_cluster",
    oracle=f"""
WITH RECURSIVE
{_star_cluster_cte()}
SELECT c.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       max_by(d.doc_id, d.n_chars * 10000000 - d.doc_id) AS rep_doc_id,
       max(d.n_chars) AS rep_n_chars,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped,
       CAST(sum(d.n_chars) - max(d.n_chars) AS BIGINT) AS dropped_chars
FROM clusters c JOIN documents d USING (doc_id)
GROUP BY c.cluster_id
HAVING count(*) >= 2
""",
    doc="Survivorship policy over LSH near-dup clusters: instead of q103's "
    "keep-min-id, keep the BEST member — longest text, doc_id ascending as "
    "the tiebreak — and report per-cluster members, representative, and "
    "the char mass the deletion actually removes. Keep-longest is the "
    "standard near-dup policy (the longest member usually subsumes the "
    "fragments); the explicit dropped_chars column is the deletion "
    "receipt. Determinism: the policy is a lexicographic max over exact "
    "integers (n_chars, -doc_id) — no scores, no ties. Scale: cluster "
    "assignment is q103's linear-edge star closure; the policy itself is "
    "ONE partial-aggregable groupBy over (cluster, member-metadata) rows — "
    "swapping policies never revisits text.",
)
def q186(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    edges = dedup.lsh_bucket_edges(d, "doc_id", "text", num_hashes=16, bands=4)
    clusters = graph.dedup_clusters(edges, d, id_col="doc_id").select(
        "doc_id", "cluster_id"
    )
    j = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            best.alias("b"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            (-F.col("b.neg_id")).cast("bigint").alias("rep_doc_id"),
            F.col("b.n_chars").cast("bigint").alias("rep_n_chars"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
            (F.col("sum_chars") - F.col("b.n_chars"))
            .cast("bigint")
            .alias("dropped_chars"),
        )
    )


# ---------------------------------------------------------------------------
# q187: entity-resolution blocking audit (recall/cost per candidate generator)
# ---------------------------------------------------------------------------


def _blocking_oracle(num_hashes: int = 16, bands: int = 4, truth_t: float = 0.9) -> str:
    row = """
SELECT '{name}' AS blocker,
       CAST((SELECT count(*) FROM {cand}) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM {cand} c JOIN truth t
             ON c.a_id = t.a_id AND c.b_id = t.b_id) AS BIGINT) AS n_covered,
       round(CAST((SELECT count(*) FROM {cand} c JOIN truth t
             ON c.a_id = t.a_id AND c.b_id = t.b_id) AS DOUBLE)
             / (SELECT count(*) FROM truth), 6) AS recall,
       round(CAST((SELECT count(*) FROM {cand} c JOIN truth t
             ON c.a_id = t.a_id AND c.b_id = t.b_id) AS DOUBLE)
             / (SELECT count(*) FROM {cand}), 6) AS precision
"""
    return f"""
WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          FROM dw a JOIN dw b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
truth AS (SELECT a_id, b_id FROM inter
          JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
          WHERE i * 1.0 / (sa.n + sb.n - i) >= {truth_t}),
{lsh_oracle.minhash_banded(num_hashes, bands, words="dw")},
cand_mh AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
dfw AS (SELECT w, count(*) AS c FROM dw GROUP BY w),
rarest AS (SELECT doc_id,
                  substring(min(lpad(CAST(c AS VARCHAR), 12, '0') || '|' || w), 14)
                    AS rw
           FROM dw JOIN dfw USING (w) GROUP BY doc_id),
cand_rw AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM rarest a JOIN rarest b
            ON a.rw = b.rw AND a.doc_id < b.doc_id),
lf AS (SELECT doc_id,
              CAST(n_chars // 32 AS VARCHAR) || '|' || split_part(text, ' ', 1) AS k
       FROM documents),
cand_lf AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM lf a JOIN lf b ON a.k = b.k AND a.doc_id < b.doc_id)
{row.format(name="minhash_band", cand="cand_mh")}
UNION ALL {row.format(name="rarest_word", cand="cand_rw")}
UNION ALL {row.format(name="length_firstword", cand="cand_lf")}
"""


@query(
    "q187_blocking_audit",
    oracle=_blocking_oracle(),
    doc="Entity-resolution blocking audit: three candidate generators — "
    "LSH minhash bands (16x4), the PPJoin-style rarest-word key, and a "
    "cheap length-bucket+first-word key — each scored for RECALL against "
    "a ground truth of exact word-set Jaccard >= 0.9 pairs and for COST "
    "(candidate-pair volume). This is the report that picks the blocker "
    "BEFORE paying for the verify join at scale (complements q168's "
    "parameter sweep, which prices only the minhash family, and q179, "
    "which audits quality filters the same way). Determinism: all counts "
    "are exact integers; recall/precision are single divisions. Scale: "
    "the truth join is quadratic IN MATCHING PAIRS by design — this is a "
    "calibration diagnostic to run on a sampled slice, exactly like "
    "q31/q132; the blockers themselves are linear (map-only keys + "
    "equi-joins).",
)
def q187(spark, sf_dir):
    from pyspark.sql import DataFrame

    d = load_table(spark, sf_dir, "documents")
    truth = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.9).select(
        "a_id", "b_id"
    )
    nt = truth.agg(F.count("*").cast("bigint").alias("n_true"))

    cand_mh = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=4, threshold=0.0
    ).select("a_id", "b_id")

    dw = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    dfw = dw.groupBy("w").agg(F.count("*").alias("c"))
    rarest = (
        dw.join(dfw, "w")
        .groupBy("doc_id")
        .agg(
            F.substring(
                F.min(F.concat(F.lpad(F.col("c").cast("string"), 12, "0"), F.lit("|"), F.col("w"))),
                14,
                1_000_000,
            ).alias("k")
        )
    )
    lf = d.select(
        "doc_id",
        F.concat(
            F.floor(F.col("n_chars") / 32).cast("string"),
            F.lit("|"),
            F.element_at(F.split("text", " "), 1),
        ).alias("k"),
    )

    def self_pairs(keys: DataFrame) -> DataFrame:
        a = keys.select(F.col("doc_id").alias("a_id"), "k")
        b = keys.select(F.col("doc_id").alias("b_id"), "k")
        return a.join(b, "k").filter(F.col("a_id") < F.col("b_id")).select("a_id", "b_id")

    def audit(name: str, cand: DataFrame) -> DataFrame:
        cand = cand.distinct()
        nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
        cov = cand.join(truth, ["a_id", "b_id"]).agg(
            F.count("*").cast("bigint").alias("n_covered")
        )
        return (
            nc.crossJoin(F.broadcast(cov))
            .crossJoin(F.broadcast(nt))
            .select(
                F.lit(name).alias("blocker"),
                "n_candidates",
                "n_true",
                "n_covered",
                F.round(F.col("n_covered").cast("double") / F.col("n_true"), 6).alias(
                    "recall"
                ),
                F.round(
                    F.col("n_covered").cast("double") / F.col("n_candidates"), 6
                ).alias("precision"),
            )
        )

    return (
        audit("minhash_band", cand_mh)
        .unionByName(audit("rarest_word", self_pairs(rarest)))
        .unionByName(audit("length_firstword", self_pairs(lf)))
    )


# ---------------------------------------------------------------------------
# q188: per-dimension embedding QA (dead dims, variance, range)
# ---------------------------------------------------------------------------


@query(
    "q188_embedding_qa",
    oracle="""
WITH x AS (SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
g AS (SELECT dim, count(*) AS n,
             sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS s1,
             sum(CAST(round(v * v, 6) AS DECIMAL(18,6))) AS s2,
             min(v) AS vmin, max(v) AS vmax
      FROM x GROUP BY dim)
SELECT dim, CAST(n AS BIGINT) AS n,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
       round(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS variance,
       round(vmin, 6) AS vmin,
       round(vmax, 6) AS vmax,
       CASE WHEN round(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) < 0.001
            THEN 1 ELSE 0 END AS is_dead
FROM g
""",
    doc="Per-dimension embedding QA: mean, variance, range, and a "
    "dead-dimension flag (variance < 1e-3) for every coordinate — the "
    "audit that catches collapsed encoder dims, zeroed channels, and "
    "mis-scaled features before an ANN index is built over them (pairs "
    "with q150, which measures what truncating LOW-variance tails costs). "
    "Determinism: moments are DECIMAL(18,6) sums of 6-dp-rounded terms "
    "(exact, order-independent); mean/variance are a fixed IEEE expression "
    "over those exact sums. Scale: posexplode emits (vec x dim) rows that "
    "partial-aggregate map-side down to a |dims|-row relation — the "
    "shuffle is dims-sized regardless of corpus size.",
)
def q188(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    g = x.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round("v", 6).cast("decimal(18,6)")).alias("s1"),
        F.sum(F.round(F.col("v") * F.col("v"), 6).cast("decimal(18,6)")).alias("s2"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    m = F.col("s1").cast("double") / F.col("n")
    var = F.round(F.col("s2").cast("double") / F.col("n") - m * m, 6)
    return g.select(
        "dim",
        "n",
        F.round(m, 6).alias("mean"),
        var.alias("variance"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
        F.when(var < 0.001, 1).otherwise(0).alias("is_dead"),
    )


# ---------------------------------------------------------------------------
# q189: centroid-margin label-noise estimate
# ---------------------------------------------------------------------------


@query(
    "q189_label_margin_audit",
    oracle="""
WITH x AS (SELECT vec_id, label, i - 1 AS dim, embedding[i]::DOUBLE AS v
           FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
cent AS (SELECT label AS clabel, dim,
                CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE)
                  / count(*) AS c
         FROM x GROUP BY label, dim),
d2 AS (SELECT x.vec_id, x.label, cent.clabel,
              CAST(sum(CAST(round((x.v - cent.c) * (x.v - cent.c), 6)
                            AS DECIMAL(18,6))) AS DOUBLE) AS d2
       FROM x JOIN cent USING (dim)
       GROUP BY x.vec_id, x.label, cent.clabel),
m AS (SELECT vec_id, label,
             max(CASE WHEN clabel = label THEN d2 END) AS own,
             min(CASE WHEN clabel <> label THEN d2 END) AS other
      FROM d2 GROUP BY vec_id, label)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN own > other THEN 1 ELSE 0 END) AS BIGINT) AS n_noisy,
       round(CAST(sum(CAST(round(other - own, 6) AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_margin
FROM m GROUP BY label
""",
    doc="Label-noise estimate via centroid margins: for every vector, the "
    "squared distance to its OWN label centroid vs the nearest OTHER "
    "centroid; a vector closer to a foreign centroid (margin < 0) is a "
    "suspected mislabel. Reported per label as a noisy count and mean "
    "margin — the triage list for relabeling before the labels train a "
    "classifier or filter (confident-learning's geometric core). "
    "Determinism: centroids are single divisions of exact DECIMAL sums; "
    "distance terms are 6-dp-rounded then DECIMAL-summed over dims; the "
    "margin compares two such exact-derived doubles. Scale: centroids are "
    "a (labels x dims) relation — broadcast; the vec x label distance "
    "matrix is (N x labels) rows of 8-byte terms, linear in corpus for a "
    "fixed label set; raw vectors shuffle once in the posexplode agg.",
)
def q189(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "label", "dim", F.col("vf").cast("double").alias("v"))
    cent = x.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(F.round("v", 6).cast("decimal(18,6)")).cast("double") / F.count("*")
        ).alias("c")
    )
    d2 = (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                F.round((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")), 6).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("d2")
        )
    )
    m = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("own"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("other"),
    )
    return m.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum((F.col("own") > F.col("other")).cast("int")).cast("bigint").alias(
            "n_noisy"
        ),
        F.round(
            F.sum(F.round(F.col("other") - F.col("own"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("avg_margin"),
    )


# ---------------------------------------------------------------------------
# q190: train/test near-dup leakage across split boundaries
# ---------------------------------------------------------------------------


def _minhash_pairs_ctes(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    """CTE chain (q32's md5 family) ending in ``pairs(a_id, b_id, est)``."""
    matches = lsh_oracle.minhash_matches("sa", "sb", num_hashes)
    return f"""
{lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
pairs AS (SELECT a_id, b_id,
                 round(({matches}) / {float(num_hashes)}, 6) AS est
          FROM cand
          JOIN sig sa ON sa.doc_id = a_id
          JOIN sig sb ON sb.doc_id = b_id
          WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold})"""


@query(
    "q190_split_leakage",
    oracle=f"""
WITH {_minhash_pairs_ctes()},
sp AS (SELECT doc_id,
              CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
                   WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
                   ELSE 'test' END AS s
       FROM documents)
SELECT least(sa.s, sb.s) || '|' || greatest(sa.s, sb.s) AS split_pair,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(est AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS avg_est_jaccard
FROM pairs JOIN sp sa ON sa.doc_id = a_id JOIN sp sb ON sb.doc_id = b_id
WHERE sa.s <> sb.s
GROUP BY 1
""",
    doc="Train/test near-dup leakage: minhash-LSH near-dup pairs (q32's "
    "16x4 family, est Jaccard >= 0.5) that STRADDLE the q59 hash-split "
    "boundary, grouped by split pair — the eval-integrity audit that "
    "catches test answers hiding in the train set as near-duplicates "
    "(exact/fuzzy membership is q100/q110; this is pairwise within ONE "
    "corpus across ITS OWN split). A nonzero train|test row means either "
    "dedup must run BEFORE splitting or the split key must be the dedup "
    "cluster id, not the doc id. Determinism: split labels are md5-nibble "
    "coins; est is an exact rational (matches/16) rounded once; the "
    "average sums those DECIMAL terms. Scale: identical cost profile to "
    "q32 (map-only signatures, band-key equi-join) plus two narrow "
    "id->split joins.",
)
def q190(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5
    )
    sp = d.select("doc_id", sampling.split_label(F.col("doc_id")).alias("s"))
    j = (
        pairs.join(sp.withColumnRenamed("doc_id", "a_id").withColumnRenamed("s", "sa"), "a_id")
        .join(sp.withColumnRenamed("doc_id", "b_id").withColumnRenamed("s", "sb"), "b_id")
        .filter(F.col("sa") != F.col("sb"))
    )
    return (
        j.select(
            F.concat_ws(
                "|", F.least("sa", "sb"), F.greatest("sa", "sb")
            ).alias("split_pair"),
            F.round("est_jaccard", 6).alias("est"),
        )
        .groupBy("split_pair")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("est").cast("decimal(18,6)")).cast("double") / F.count("*"),
                6,
            ).alias("avg_est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q191: dedup knowledge-loss audit (rare n-grams whose carriers all drop)
# ---------------------------------------------------------------------------


@query(
    "q191_rare_ngram_loss",
    oracle=f"""
WITH RECURSIVE
{_star_cluster_cte()},
surv AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
      FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
gs AS (SELECT s, count(*) AS df,
              max(CASE WHEN doc_id IN (SELECT doc_id FROM surv)
                  THEN 1 ELSE 0 END) AS kept
      FROM g GROUP BY s)
SELECT df,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(1 - kept) AS BIGINT) AS n_lost,
       round(CAST(sum(1 - kept) AS DOUBLE) / count(*), 6) AS loss_rate
FROM gs WHERE df <= 2 GROUP BY df
""",
    doc="Dedup knowledge-loss audit: rare word-3-grams (document frequency "
    "<= 2) whose EVERY carrier is deleted by the q103 LSH keep-min-id "
    "dedup — the content that exists nowhere in the surviving corpus. "
    "Aggressive near-dup closures (see q181's chain-merge audit) can drop "
    "93%+ of docs; this measures what that deletion costs in sole-carrier "
    "content, per df bucket. A high loss_rate is the argument for "
    "span-level cutting (q152) or keep-best policies (q186) over doc "
    "deletion. Determinism: all counts are exact integers over distinct "
    "(doc, gram) postings. Scale: postings are (doc_id, gram)-keyed "
    "partial aggs; the survivor flag joins on doc_id only; in the Spark "
    "plan grams travel as xxhash64 keys (collision odds ~1e-11 at 1e4 "
    "grams; counts only — no gram strings shuffle).",
)
def q191(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    edges = dedup.lsh_bucket_edges(d, "doc_id", "text", num_hashes=16, bands=4)
    surv = (
        graph.dedup_clusters(edges, d, id_col="doc_id")
        .filter(F.col("is_representative"))
        .select("doc_id", F.lit(1).alias("kept_doc"))
    )
    # Docs with < 3 words carry no 3-grams (the oracle's range() is simply
    # empty for them); without this guard sequence(0, size-3) would emit a
    # DESCENDING index list and slice() would throw on index 0.
    grams = (
        d.filter(F.size(F.split("text", " ")) >= 3)
        .select(
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
    )
    gs = (
        grams.join(surv, "doc_id", "left")
        .groupBy("gh")
        .agg(
            F.count("*").alias("df"),
            F.max(F.coalesce(F.col("kept_doc"), F.lit(0))).alias("kept"),
        )
    )
    return (
        gs.filter(F.col("df") <= 2)
        .groupBy("df")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(1 - F.col("kept")).cast("bigint").alias("n_lost"),
            F.round(
                F.sum(1 - F.col("kept")).cast("double") / F.count("*"), 6
            ).alias("loss_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q192: text-vs-embedding dedup signal agreement
# ---------------------------------------------------------------------------


@query(
    "q192_dedup_signal_agreement",
    oracle=f"""
WITH {_minhash_pairs_ctes()},
tp AS (SELECT a_id, b_id FROM pairs),
ep AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
       FROM embeddings a JOIN embeddings b
       ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) >= 0.95),
u AS (SELECT coalesce(t.a_id, e.a_id) AS a_id,
             CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS in_text,
             CASE WHEN e.a_id IS NOT NULL THEN 1 ELSE 0 END AS in_emb
      FROM tp t FULL OUTER JOIN ep e
      ON t.a_id = e.a_id AND t.b_id = e.b_id)
SELECT CAST(sum(in_text * in_emb) AS BIGINT) AS n_both,
       CAST(sum(in_text * (1 - in_emb)) AS BIGINT) AS n_text_only,
       CAST(sum((1 - in_text) * in_emb) AS BIGINT) AS n_emb_only,
       round(CAST(sum(in_text * in_emb) AS DOUBLE) / count(*), 6)
         AS signal_jaccard
FROM u
""",
    doc="Cross-signal dedup agreement: the Venn decomposition of near-dup "
    "PAIRS found by text minhash (q32's 16x4, est >= 0.5) vs embedding "
    "cosine (q34's >= 0.95 within label blocks), keyed on the shared "
    "doc/vec id space (TESTDATA: embeddings[i] embeds documents[i]). "
    "Text-only pairs are surface dups the encoder separates (template "
    "text, different facts); embedding-only pairs are paraphrase dups "
    "minhash can't see — the report that decides whether a corpus needs "
    "BOTH dedup passes or one subsumes the other. Determinism: both pair "
    "sets are exact-integer-derived (rational est, 6-dp-rounded cosine of "
    "float-exact doubles); outputs are exact counts + one division. "
    "Scale: each side is its existing linear-candidate path (band join / "
    "label-blocked join); the FULL OUTER join runs on id pairs only.",
)
def q192(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    tp = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=16, bands=4, threshold=0.5
    ).select("a_id", "b_id", F.lit(1).alias("in_text"))
    ep = dedup.embedding_neardup_pairs(
        e, "vec_id", "embedding", "label", threshold=0.95
    ).select("a_id", "b_id", F.lit(1).alias("in_emb"))
    u = tp.join(ep, ["a_id", "b_id"], "full_outer").select(
        F.coalesce("in_text", F.lit(0)).alias("in_text"),
        F.coalesce("in_emb", F.lit(0)).alias("in_emb"),
    )
    return u.agg(
        F.sum(F.col("in_text") * F.col("in_emb")).cast("bigint").alias("n_both"),
        F.sum(F.col("in_text") * (1 - F.col("in_emb")))
        .cast("bigint")
        .alias("n_text_only"),
        F.sum((1 - F.col("in_text")) * F.col("in_emb"))
        .cast("bigint")
        .alias("n_emb_only"),
        F.round(
            F.sum(F.col("in_text") * F.col("in_emb")).cast("double") / F.count("*"), 6
        ).alias("signal_jaccard"),
    )
