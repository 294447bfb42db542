"""LLM training-data pipeline queries (the BASELINE.json north star):
dedup (exact / MinHash-LSH / SimHash / Jaccard / embedding), similarity
search, text analysis, multimodal columns, plus the flatten operator bound
to the events table.

MinHash and SimHash are built on engine-portable hashing (md5 string
min / md5 hex bits) specifically so the *entire* pipeline — including LSH
banding — has an exact DuckDB oracle. See operators/dedup.py for the scale
discussion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import (
    dedup,
    graph,
    sampling,
    similarity,
    text,
)
from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten
from etl_pipeline_for_elasticsearch_json_document_spark.queries import lsh_oracle
from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "q30_dedup_exact",
    oracle="""
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id,
       count(*) AS dup_count
FROM documents GROUP BY fp
""",
    doc="Exact dedup groups via normalized-md5 fingerprint groupBy.",
)
def q30(spark, sf_dir):
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q31_jaccard_pairs",
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
    doc="Exact word-set Jaccard pairs via inverted-index join.",
)
def q31(spark, sf_dir):
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.6
    )


@query(
    "q37_shingle_jaccard",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS w
       FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
          FROM sh a JOIN sh b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(i / (sa.n + sb.n - i), 6) >= 0.5
""",
    doc="3-word-shingle (n-gram) Jaccard near-dup pairs — same inverted-"
    "index join as q31 with the dedup unit swapped to shingles, which "
    "catches reordered/edited near-dups and shrinks postings lists.",
)
def q37(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        d, "doc_id", "text", threshold=0.5, token_expr=text.word_ngrams(F.col("text"), 3)
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    matches = lsh_oracle.minhash_matches("sa", "sb", num_hashes)
    return f"""
WITH {lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT a_id, b_id,
       round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = a_id
JOIN sig sb ON sb.doc_id = b_id
WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold}
"""


@query(
    "q32_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(16)+LSH(4 bands) near-dup candidates with estimated "
    "Jaccard — engine-portable md5-string min-hash family.",
)
def q32(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )


def _simhash_oracle(bits: int = 16, max_hamming: int = 3) -> str:
    hexv = "strpos('0123456789abcdef', substring(md5(w), {p}, 1)) - 1"
    h = " + ".join(f"({hexv.format(p=p + 1)}) * {16 ** (3 - p)}" for p in range(4))
    votes = ",\n  ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(bits)
    )
    sh = " + ".join(f"(CASE WHEN v{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
wh AS (SELECT doc_id, ({h})::BIGINT AS h FROM words),
votes AS (SELECT doc_id,
  {votes}
  FROM wh GROUP BY doc_id),
sh AS (SELECT doc_id, ({sh})::BIGINT AS sh FROM votes)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.sh, b.sh))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


@query(
    "q33_simhash_pairs",
    oracle=_simhash_oracle(),
    doc="16-bit SimHash near-dup pairs at hamming ≤ 3.",
)
def q33(spark, sf_dir):
    return dedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", bits=16, max_hamming=3
    )


@query(
    "q34_embedding_neardup",
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.95
""",
    doc="Embedding near-dup pairs: cosine ≥ 0.95 within label blocks.",
)
def q34(spark, sf_dir):
    return dedup.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", threshold=0.95
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


Q40_ORACLE = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id)
SELECT q_id, n_id, cos, rank FROM (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


@query(
    "q40_knn_bruteforce",
    oracle=Q40_ORACLE,
    doc="Exact cosine top-5 neighbors for 10 query vectors (broadcast "
    "queries, one scoring pass, Window top-k).",
)
def q40(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q41_oracle(dim: int = 64, planes: int = 4, tables: int = 8, k: int = 5) -> str:
    """The LSH pipeline is deterministic (md5-derived hyperplanes, fixed
    left-fold dot products), so even the ANN index has an exact SQL oracle:
    embed the plane components as literals and reproduce the sign-bit
    bucketing. Sums are evaluated left-to-right by both engines, so the
    bucket bits agree bit-for-bit unless a dot product lands within float
    error of 0 (not the case on this corpus — pinned by the driver check)."""
    per_table = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            h = similarity._hyperplane(dim, p, t)
            arr = "[" + ", ".join(repr(x) for x in h) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
                f"THEN {2 ** p} ELSE 0 END)"
            )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, " + " + ".join(bits) + " AS bucket FROM embeddings"
        )
    buckets = "\nUNION ALL\n".join(per_table)
    return f"""
WITH b AS (
{buckets}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
scored AS (
  SELECT cand.q_id, cand.n_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 6) AS cos
  FROM cand JOIN embeddings qe ON qe.vec_id = cand.q_id
            JOIN embeddings ne ON ne.vec_id = cand.n_id)
SELECT q_id, n_id, cos, rank FROM (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored) WHERE rank <= {k}
"""


@query(
    "q41_knn_lsh",
    oracle=_q41_oracle(),
    doc="ANN top-5 via random-hyperplane LSH (8 tables × 4 planes): "
    "bucket equi-join instead of full scan. The md5-derived hyperplanes "
    "make even this index exactly oracle-checkable.",
)
def q41(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_lsh(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5)


Q42_ORACLE = """
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
asg AS (SELECT cid, vec_id AS n_id FROM (
  SELECT v.vec_id, c.cid,
         row_number() OVER (PARTITION BY v.vec_id
             ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) DESC, c.cid) AS rn
  FROM embeddings v CROSS JOIN cent c) WHERE rn = 1),
probes AS (SELECT q_id, cid FROM (
  SELECT q.vec_id AS q_id, c.cid,
         row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) DESC, c.cid) AS rn
  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rn <= 4),
scored AS (
  SELECT p.q_id, a.n_id,
         round(list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 6) AS cos
  FROM probes p JOIN asg a USING (cid)
  JOIN embeddings qe ON qe.vec_id = p.q_id
  JOIN embeddings ne ON ne.vec_id = a.n_id
  WHERE a.n_id != p.q_id)
SELECT q_id, n_id, cos, rank FROM (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


@query(
    "q42_knn_ivf",
    oracle=Q42_ORACLE,
    doc="ANN top-5 via a deterministic IVF index: nearest-centroid "
    "assignment (map-side max_by), nprobe=4 partition probe, in-partition "
    "scoring — the partition-pruning scale path next to q41's LSH.",
)
def q42(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_ivf(
        emb,
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") < 16),
        k=5,
        nprobe=4,
    )


def _pq_oracle(m: int = 8, sd: int = 8, n_cent: int = 16, n_q: int = 10, k: int = 5) -> str:
    l2 = "round(list_sum(list_transform(range(1, {sd} + 1), i -> ({a}.v[i] - cb.cv[i]) ^ 2)), 6)"
    return f"""
WITH sub AS (
  SELECT vec_id, s, list_transform(range(1, {sd + 1}), i -> embedding[s * {sd} + i]::DOUBLE) AS v
  FROM embeddings, range(0, {m}) t(s)
),
cb AS (SELECT vec_id AS cid, s, v AS cv FROM sub WHERE vec_id < {n_cent}),
codes AS (
  SELECT n_id, s, cid FROM (
    SELECT sub.vec_id AS n_id, sub.s, cb.cid,
           row_number() OVER (PARTITION BY sub.vec_id, sub.s
               ORDER BY {l2.format(sd=sd, a="sub")}, cb.cid) AS rn
    FROM sub JOIN cb ON sub.s = cb.s) WHERE rn = 1
),
qd AS (
  SELECT q.vec_id AS q_id, q.s, cb.cid,
         CAST({l2.format(sd=sd, a="q")} AS DECIMAL(18,6)) AS qdist
  FROM sub q JOIN cb ON q.s = cb.s WHERE q.vec_id < {n_q}
),
scored AS (
  SELECT qd.q_id, codes.n_id, round(CAST(sum(qd.qdist) AS DOUBLE), 6) AS adist
  FROM codes JOIN qd ON codes.s = qd.s AND codes.cid = qd.cid
  WHERE codes.n_id != qd.q_id
  GROUP BY qd.q_id, codes.n_id
)
SELECT q_id, n_id, adist, rank FROM (
  SELECT q_id, n_id, adist,
         row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


@query(
    "q43_knn_pq",
    oracle=_pq_oracle(),
    doc="ANN top-5 via product quantization (8×8-dim subspaces, 16-centroid "
    "codebooks, asymmetric-distance scoring): corpus stored as m tiny codes, "
    "query scoring = m lookup-table sums — the memory-bound ANN design next "
    "to q41's LSH and q42's IVF. Fully relational, exact SQL oracle.",
)
def q43(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_pq(
        emb,
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") < 16),
        m=8,
        sub_dim=8,
        k=5,
    )


@query(
    "q44_label_centroids",
    oracle="""
WITH ex AS (
  SELECT label, s AS dim, embedding[s + 1]::DOUBLE AS x
  FROM embeddings, range(0, 64) t(s)
)
SELECT label, dim,
       round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c,
       count(*) AS n_vecs
FROM ex GROUP BY label, dim
""",
    doc="Element-wise centroid per label (the k-means/codebook-training "
    "aggregation primitive): posexplode + one partial-aggregated shuffle; "
    "decimal sums make the result add-order-independent.",
)
def q44(spark, sf_dir):
    return similarity.label_centroids(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q50_token_stats",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
       max(len(string_split(text, ' '))) AS max_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
    doc="Token counting rolled up by language.",
)
def q50(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    nt = text.token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(nt), 4).alias("avg_tokens"),
        F.max(nt).cast("long").alias("max_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q51_quality_metrics",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))
             / len(string_split(text, ' ')), 4) AS avg_token_len,
       round(len(list_filter(string_split(text, ' '),
                             x -> x IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is')))
             / len(string_split(text, ' ')), 4) AS stopword_ratio
FROM documents WHERE doc_id < 100
""",
    doc="Per-document quality metrics: token count, mean token length, "
    "stopword ratio — pure expressions, no shuffle.",
)
def q51(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        F.round(text.avg_token_length(F.col("text")), 4).alias("avg_token_len"),
        F.round(text.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


@query(
    "q52_lang_facet",
    oracle="""
SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY lang, source
""",
    doc="Language × source facet counts.",
)
def q52(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("chars"))
    )


@query(
    "q53_fingerprint_groups",
    oracle="""
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       count(*) AS n, min(doc_id) AS first_doc
FROM documents GROUP BY fp HAVING count(*) >= 1
""",
    doc="Document fingerprint (normalized md5) groups.",
)
def q53(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(text.fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n") >= 1)
    )


@query(
    "q54_bigram_counts",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM w)
SELECT bg, count(*) AS n FROM b GROUP BY bg HAVING count(*) >= 20
""",
    doc="Corpus-wide word-bigram counts (zip_with sliding window, "
    "explode only at the count).",
)
def q54(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(text.bigrams(F.col("text"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 20)
    )


@query(
    "q55_language_id",
    oracle="""
SELECT CASE
         WHEN regexp_matches(lower(text), '\\b(der|die|das|und|ist)\\b') THEN 'de'
         WHEN regexp_matches(lower(text), '\\b(le|la|les|et|est)\\b') THEN 'fr'
         WHEN regexp_matches(lower(text), '\\b(el|los|las|es|y)\\b') THEN 'es'
         ELSE 'en'
       END AS pred_lang,
       count(*) AS n
FROM documents GROUP BY pred_lang
""",
    doc="Heuristic language-ID facet (frequent-word profiles as regex).",
)
def q55(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.col("text"))
    pred = (
        F.when(t.rlike(r"\b(der|die|das|und|ist)\b"), "de")
        .when(t.rlike(r"\b(le|la|les|et|est)\b"), "fr")
        .when(t.rlike(r"\b(el|los|las|es|y)\b"), "es")
        .otherwise("en")
    )
    return d.groupBy(pred.alias("pred_lang")).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "q60_multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_hash
FROM documents WHERE doc_id < 100
""",
    doc="Opaque binary payload + typed metadata (the multimodal column "
    "pattern: binary blob, metadata computed engine-side).",
)
def q60(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )


@query(
    "q61_multimodal_decode",
    oracle="""
SELECT doc_id,
       16 + octet_length(encode(text)) % 64 AS width,
       16 + ascii(substring(text, 1, 1)) % 64 AS height,
       (16 + octet_length(encode(text)) % 64) * (16 + ascii(substring(text, 1, 1)) % 64) AS n_pixels
FROM documents WHERE doc_id < 100
""",
    doc="Stubbed multimodal decode via mapInPandas: Arrow-batched binary → "
    "feature columns. The decode itself is a deterministic fake (no image "
    "libs in this environment); the Spark plumbing (binary column, batch "
    "iteration, schema) is real.",
)
def q61(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.multimodal import decode_images

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return decode_images(payload, "payload", id_col="doc_id")


# ---------------------------------------------------------------------------
# Flatten bound to the events table
# ---------------------------------------------------------------------------


@query(
    "q70_flatten_events",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS Event_id,
       event_type AS Event_type,
       coalesce(CAST(props->>'$.k' AS VARCHAR), '') AS Props_K
FROM events
""",
    doc="The flatten operator over semi-structured events: parse the JSON "
    "props column, flatten to PascalCase string columns (reference "
    "json_to_tsv_in_memory semantics, Catalyst-executed).",
)
def q70(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    nested = e.select(
        "event_id", "event_type", F.from_json("props", "k INT").alias("props")
    )
    return flatten(nested)


@query(
    "q47_flatten_families",
    oracle="""
SELECT CAST(event_id AS VARCHAR) AS Event_id,
       coalesce(event_type, '') AS Event_type,
       coalesce(CAST(props->>'$.k' AS VARCHAR), '') AS Props_K,
       coalesce(CAST(user_id AS VARCHAR), '') AS User_id
FROM events
""",
    doc="The M5 column-family scale path under the oracle gate: flatten "
    "events into per-subtree family tables sharing a key, then join the "
    "families back on the key — proving the split column set concatenates "
    "to exactly the wide flatten (plans/flatten.py::flatten_families). In "
    "production the join-back never happens (consumers read one narrow "
    "family); here it IS the verification.",
)
def q47(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten_families

    e = load_table(spark, sf_dir, "events")
    nested = e.select(
        "event_id",
        "event_type",
        "user_id",
        F.from_json("props", "k INT").alias("props"),
    )
    fams = flatten_families(nested, families=3, key_exprs=("event_id AS __key",))
    out = None
    for d in fams.values():
        out = d if out is None else out.join(d, "__key")
    return out.select(*sorted(c for c in out.columns if c != "__key"))


@query(
    "q56_tfidf",
    oracle="""
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY w),
n AS (SELECT count(*) AS n FROM documents)
SELECT tf.doc_id, tf.w,
       round(tf.tf * ln((n.n + 1) / (df.df + 1)), 6) AS tfidf
FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
WHERE tf.doc_id < 20
""",
    doc="TF-IDF scoring: per-doc term frequency × smoothed inverse document "
    "frequency; DF computed once over the corpus and broadcast.",
)
def q56(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a broadcast 1-row aggregate joined into the plan — no
    # driver-side action, so the whole query stays one lazy plan at scale.
    n1 = F.broadcast(d.agg(F.count("*").alias("__n")))
    return (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(df), "w")
        .crossJoin(n1)
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )


@query(
    "q57_char_ngram_profile",
    oracle="""
WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s
           FROM documents WHERE doc_id < 50),
g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(length(s) - 2, 1) + 1),
                                           i -> substring(s, i, 3))) AS tri
      FROM t)
SELECT tri, count(*) AS n FROM g GROUP BY tri HAVING count(*) >= 50
""",
    doc="Character-trigram profile (the language-ID feature space).",
)
def q57(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        d.select(F.explode(text.char_ngrams(F.col("text"), 3)).alias("tri"))
        .groupBy("tri")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 50)
    )


# ---------------------------------------------------------------------------
# Dedup closure, PII scrubbing, dataset splits
# ---------------------------------------------------------------------------


@query(
    "q35_dedup_clusters",
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
)
SELECT id AS doc_id,
       min(lbl) AS cluster_id,
       (id = min(lbl)) AS is_representative
FROM reach GROUP BY id
""",
    doc="Fuzzy-dedup closure: Jaccard>=0.8 pairs -> distributed connected "
    "components (min-label propagation, localCheckpoint per round) -> one "
    "representative per duplicate cluster. Oracle: recursive-CTE "
    "transitive closure.",
)
def q35(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.8)
    return graph.dedup_clusters(pairs, d, id_col="doc_id")


@query(
    "q58_pii_redaction",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@corp.example.com or ' ||
         '555-01' || doc_id || '-9944 today' AS raw
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(raw,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '[0-9]{3}[-.][0-9]{3}[-.][0-9]{2,6}', '[PHONE]', 'g') AS redacted,
       len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(raw, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{2,6}')) AS n_phones
FROM synth
""",
    doc="PII scrub: RE2-safe email/phone patterns replaced by [TAG] plus "
    "per-doc match counts; map-only regexp chain, no shuffle. Synthetic "
    "PII is appended deterministically since the corpus has none.",
)
def q58(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example.com or 555-01"),
        F.col("doc_id").cast("string"),
        F.lit("-9944 today"),
    )
    return d.select(
        "doc_id",
        text.redact_pii(raw).alias("redacted"),
        F.regexp_count(raw, F.lit(text.EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(text.PHONE_RE)).cast("long").alias("n_phones"),
    )


@query(
    "q59_train_split",
    oracle="""
WITH b AS (
  SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
)
SELECT split, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM b GROUP BY split
""",
    doc="Deterministic train/val/test split by md5 hash bucket of the doc "
    "id (75/12.5/12.5): stable across runs, engines, and partitionings — "
    "never rand(), so no train/test leakage on reprocessing.",
)
def q59(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(sampling.split_label(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@query(
    "q36_repetition_metrics",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
base AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS nd FROM toks),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS b
       FROM toks),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY doc_id)
SELECT base.doc_id,
       round(1 - nd / n, 6) AS dup_token_ratio,
       round(mx / tot, 6) AS top_bigram_frac
FROM base JOIN top ON base.doc_id = top.doc_id
""",
    doc="Gopher-style repetition quality signals: fraction of repeated "
    "tokens and the share of the most-frequent bigram — the standard "
    "boilerplate/degenerate-text filters for training corpora.",
)
def q36(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = text.tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(ws).alias("n"),
        F.size(F.array_distinct(ws)).alias("nd"),
    )
    bg = d.select("doc_id", F.explode(text.bigrams(F.col("text"))).alias("b"))
    bgc = bg.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    top = bgc.groupBy("doc_id").agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    return base.join(top, "doc_id").select(
        "doc_id",
        F.round(1 - F.col("nd") / F.col("n"), 6).alias("dup_token_ratio"),
        F.round(F.col("mx") / F.col("tot"), 6).alias("top_bigram_frac"),
    )


@query(
    "q62_frame_sample",
    oracle="""
WITH v AS (SELECT doc_id,
                  octet_length(encode(text)) % 300 + 1 AS n_frames
           FROM documents WHERE doc_id < 200)
SELECT doc_id, unnest(range(0, n_frames, 30)) AS frame_idx
FROM v
""",
    doc="Video frame-sampling plan shape: every-Nth-frame fan-out from "
    "(fake) container metadata; map-only explode, no shuffle.",
)
def q62(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.multimodal import frame_sample_plan

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return frame_sample_plan(payload, "payload", every_n=30).select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


@query(
    "q65_outlink_domains",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         text || ' see https://site' || (doc_id % 7) || '.example.org/p/' || doc_id ||
         ' and http://cdn' || (doc_id % 3) || '.example.net/a' AS raw
  FROM documents
),
links AS (
  SELECT doc_id, unnest(regexp_extract_all(raw, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
  FROM synth
)
SELECT domain, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
FROM links GROUP BY domain
""",
    doc="Web-corpus outlink analysis: extract every URL's domain "
    "(RE2-safe regexp_extract_all), explode, facet-count. Synthetic links "
    "are appended deterministically since the corpus has none; the "
    "extract+explode+count shape is the real web-graph pipeline stage.",
)
def q65(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
        F.lit(" and http://cdn"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.net/a"),
    )
    links = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(raw, F.lit(r"https?://([A-Za-z0-9.-]+)"), F.lit(1))
        ).alias("domain"),
    )
    return links.groupBy("domain").agg(
        F.count("*").alias("n_links"), F.countDistinct("doc_id").alias("n_docs")
    )


@query(
    "q66_audio_chunks",
    oracle="""
WITH a AS (SELECT doc_id, n_chars * 100 AS n_samples FROM documents WHERE doc_id < 100)
SELECT doc_id, chunk_start, chunk_start + 16000 AS chunk_end
FROM (SELECT doc_id, unnest(range(0, greatest(n_samples - 16000 + 1, 0), 8000)) AS chunk_start
      FROM a)
""",
    doc="Overlapping audio chunking (1 s window, 50% hop at 16 kHz) from "
    "container metadata: sequence+explode fan-out, map-only — the plan "
    "shape feeding an fbank/wav2vec feature extractor. Sample counts are "
    "derived deterministically from doc length (codec stubbed).",
)
def q66(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.multimodal import audio_chunk_plan

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    meta = d.select("doc_id", (F.col("n_chars") * F.lit(100)).alias("n_samples"))
    return audio_chunk_plan(meta, "n_samples", window=16000, hop=8000).select(
        "doc_id", "chunk_start", "chunk_end"
    )


@query(
    "q63_pipeline_e2e",
    oracle="""
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
),
kept AS (
  SELECT doc_id, n_chars FROM fp
  WHERE doc_id = (SELECT min(doc_id) FROM fp f2 WHERE f2.f = fp.f)
    AND n_chars >= 100
),
labeled AS (
  SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM kept
)
SELECT split, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM labeled GROUP BY split
""",
    doc="The whole training-data pipeline in one plan: exact dedup (keep "
    "min-id representative) -> length quality filter -> deterministic "
    "hash split -> per-split stats. One shuffle for the dedup window, "
    "map-only after.",
)
def q63(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    kept = dedup.dedup_exact(d, "doc_id", "text").filter(F.col("n_chars") >= 100)
    return (
        kept.select(sampling.split_label(F.col("doc_id")).alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@query(
    "q71_winnowing_fingerprints",
    oracle=r"""
WITH t AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
           FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_transform(range(1, len(t) - 3),
                                      i -> substring(md5(substring(t, i, 5)), 1, 8))
                  ELSE CAST([] AS VARCHAR[]) END AS hs
      FROM t)
SELECT doc_id,
       unnest(CASE WHEN len(hs) >= 4
                   THEN list_distinct(list_transform(range(1, len(hs) - 2),
                                                     j -> list_min(hs[j:j+3])))
                   ELSE CAST([] AS VARCHAR[]) END) AS fp
FROM g
""",
    doc="Winnowing document fingerprints (MOSS): char-5-gram md5 stream, "
    "sliding-window-4 minimum sampling, distinct — the sampled sketch that "
    "replaces full shingle postings for near-dup detection at corpus scale. "
    "Map-only until the caller joins sketches.",
)
def q71(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    g = d.select("doc_id", text.winnow_gram_hashes(F.col("text"), k=5).alias("hs"))
    return g.select(
        "doc_id", F.explode(text.winnow_select(F.col("hs"), window=4)).alias("fp")
    )


@query(
    "q72_bpe_token_stats",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       round(avg(nb), 4) AS avg_bpe,
       CAST(max(nb) AS BIGINT) AS max_bpe,
       round(avg(nb / nw), 4) AS fertility
FROM (SELECT lang,
             len(regexp_extract_all(text, '{text.BPE_PRETOKEN_RE}')) AS nb,
             len(string_split(text, ' ')) AS nw
      FROM documents)
GROUP BY lang
""",
    doc="BPE-style pre-tokenizer counts by language (letters runs / single "
    "digits / symbol runs — RE2-portable), with fertility = pretokens per "
    "whitespace word. One regexp_extract_all expression, no UDF.",
)
def q72(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    nb = F.size(text.bpe_pretokens(F.col("text")))
    nw = text.token_count(F.col("text"))
    return (
        d.select("lang", nb.alias("nb"), nw.alias("nw"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nb"), 4).alias("avg_bpe"),
            F.max("nb").cast("long").alias("max_bpe"),
            F.round(F.avg(F.col("nb") / F.col("nw")), 4).alias("fertility"),
        )
    )


@query(
    "q75_top_tokens_per_lang",
    oracle="""
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY lang, w)
SELECT lang, w, n, rnk
FROM (SELECT lang, w, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rnk
      FROM c)
WHERE rnk <= 10
""",
    doc="Top-10 frequent tokens per language — the heavy-hitter / vocab "
    "primitive: explode -> partial-aggregated count (map-side combine "
    "absorbs hot tokens) -> sampling.per_key_topk's salted two-level "
    "top-k over the counts relation (r10: no task ever sorts a whole "
    "language's vocabulary; descending count rides the negated column).",
)
def q75(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("lang", F.explode(text.tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("n"))
    )
    top = sampling.per_key_topk(
        c.withColumn("negn", -F.col("n")), ["lang"], ["negn", "w"], 10,
        rank_col="rnk",
    )
    return top.select("lang", "w", "n", "rnk")


# ---------------------------------------------------------------------------
# Round 2 additions
# ---------------------------------------------------------------------------


@query(
    "q38_sentence_dedup",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (
  SELECT doc_id,
         trim(lower(array_to_string(ws[i*12+1:i*12+12], ' '))) AS sent
  FROM w, unnest(range(0, CAST(ceil(len(ws) / 12.0) AS BIGINT))) AS t(i)),
f AS (SELECT doc_id, md5(sent) AS fp FROM s WHERE length(sent) > 20)
SELECT fp, count(*) AS n, min(doc_id) AS first_doc
FROM f GROUP BY fp HAVING count(*) > 1
""",
    doc="Sentence-level dedup (the within-corpus boilerplate remover): "
    "segment -> explode -> normalize -> md5 -> groupBy. The corpus has no "
    "punctuation, so the sentence unit is a non-overlapping 12-word "
    "segment (the standard fallback for punctuation-less text). One "
    "shuffle, partial-aggregated; the explode multiplies rows but each "
    "carries only (doc_id, 16-byte fp).",
)
def q38(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(ws) / F.lit(12.0)).cast("long")
    idx = F.when(n_seg > 0, F.sequence(F.lit(0).cast("long"), n_seg - 1)).otherwise(
        F.array().cast("array<long>")
    )
    segs = F.transform(idx, lambda i: F.array_join(F.slice(ws, i * 12 + 1, 12), " "))
    return (
        d.select("doc_id", F.explode(segs).alias("raw"))
        .select("doc_id", F.trim(F.lower(F.col("raw"))).alias("sent"))
        .filter(F.length("sent") > 20)
        .select("doc_id", F.md5("sent").alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n") > 1)
    )


def _q45_oracle() -> str:
    return f"""
WITH bf AS ({Q40_ORACLE}),
ivf AS ({Q42_ORACLE}),
hits AS (
  SELECT bf.q_id, count(ivf.n_id) AS n_hits
  FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.n_id = ivf.n_id
  GROUP BY bf.q_id)
SELECT q_id, n_hits, round(n_hits / 5.0, 4) AS recall_at_5
FROM hits
"""


@query(
    "q45_ann_recall",
    oracle=_q45_oracle(),
    doc="ANN quality evaluation: recall@5 of the IVF index vs the exact "
    "brute-force ground truth, per query. The eval harness every ANN "
    "deployment needs; both sides reuse the q40/q42 plans so index "
    "parameter sweeps stay one query away.",
)
def q45(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    cents = emb.filter(F.col("vec_id") < 16)
    bf = similarity.knn_bruteforce(emb, qs, k=5).select("q_id", "n_id")
    ivf = similarity.knn_ivf(emb, qs, cents, k=5, nprobe=4).select(
        F.col("q_id").alias("iq"), F.col("n_id").alias("inid")
    )
    hits = (
        bf.join(
            ivf,
            (F.col("q_id") == F.col("iq")) & (F.col("n_id") == F.col("inid")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("inid").alias("n_hits"))
    )
    return hits.select(
        "q_id", "n_hits", F.round(F.col("n_hits") / 5.0, 4).alias("recall_at_5")
    )


_Q48_ORACLE = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 40 AS src, (3 * doc_id + 1) % 40 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 40 AS src, (7 * doc_id + 2) % 40 AS dst FROM documents)),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / od.outdeg AS w
      FROM e JOIN od ON e.src = od.src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
c1 AS (SELECT w.dst, sum(r0.rank * w.w) AS mass FROM w JOIN r0 ON w.src = r0.node
       GROUP BY w.dst),
r1 AS (SELECT node, 0.15 / nn.n + 0.85 * coalesce(c1.mass, 0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.dst),
c2 AS (SELECT w.dst, sum(r1.rank * w.w) AS mass FROM w JOIN r1 ON w.src = r1.node
       GROUP BY w.dst),
r2 AS (SELECT node, 0.15 / nn.n + 0.85 * coalesce(c2.mass, 0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.dst),
ind AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY dst)
SELECT r2.node, round(r2.rank, 6) AS rank, coalesce(ind.in_deg, 0) AS in_deg
FROM r2 LEFT JOIN ind ON r2.node = ind.node
"""


@query(
    "q48_pagerank",
    oracle=_Q48_ORACLE,
    doc="Iterative link analysis: 2 fixed PageRank iterations over a "
    "deterministic synthetic outlink graph (each doc links its residue "
    "class). Each iteration is one rank⋈edges join + one partial-agg "
    "groupBy; at scale the edge set is bucketed by src once and only the "
    "small rank relation moves per iteration. Oracle = the same "
    "iterations unrolled as CTEs.",
)
def q48(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((3 * F.col("doc_id") + 1) % 40).alias("dst")
    )
    e2 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((7 * F.col("doc_id") + 2) % 40).alias("dst")
    )
    return graph.pagerank(e1.unionByName(e2), iterations=2)


@query(
    "q46_cdc_chunk_dedup",
    oracle="""
WITH b AS (
  SELECT doc_id, text, length(text) AS n,
         list_filter(list_transform(range(8, length(text) + 1),
             i -> CASE WHEN substring(md5(substring(text, i - 7, 8)), 32, 1) = '0'
                       THEN i END),
             x -> x IS NOT NULL) AS bnd
  FROM documents WHERE text IS NOT NULL),
se AS (
  SELECT doc_id, text,
         list_prepend(0, bnd) AS starts,
         list_append(bnd, n) AS ends
  FROM b),
c AS (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(range(1, len(starts) + 1),
                          j -> substring(text, starts[j] + 1, ends[j] - starts[j])),
           s -> length(s) > 0)) AS chunk
  FROM se)
SELECT md5(chunk) AS chunk_fp,
       count(*) AS n,
       count(DISTINCT doc_id) AS n_docs,
       min(length(chunk)) AS chunk_len
FROM c GROUP BY chunk_fp HAVING count(*) > 1
""",
    doc="Content-defined chunk dedup: CDC boundaries (trailing-window md5, "
    "shift-tolerant) -> chunk fingerprints -> shared-chunk groups. The "
    "boilerplate detector for long documents; insertions shift offsets "
    "but not chunk identity.",
)
def q46(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ch = dedup.cdc_chunks(d, "doc_id", "text", window=8, boundary_hex="0")
    return (
        ch.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.min("chunk_len").alias("chunk_len"),
        )
        .filter(F.col("n") > 1)
    )


@query(
    "q100_decontaminate",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS g
      FROM toks),
tr AS (SELECT doc_id AS train_id, md5(g) AS gh FROM g WHERE doc_id % 10 <> 0),
te AS (SELECT doc_id AS test_id, md5(g) AS gh FROM g WHERE doc_id % 10 = 0)
SELECT test_id,
       count(DISTINCT train_id) AS n_train_docs,
       count(DISTINCT gh) AS n_shared_grams
FROM tr JOIN te USING (gh)
GROUP BY test_id
""",
    doc="Benchmark decontamination (GPT-3 style): per held-out test doc, "
    "the distinct train docs sharing >=1 word 5-gram. Both sides reduce "
    "to (id, md5(gram)) postings meeting in one equi-join; the small test "
    "side is broadcast, so the train corpus never shuffles.",
)
def q100(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return dedup.ngram_contamination(train, test, "doc_id", "text", n=5)


@query(
    "q101_domain_quota",
    oracle="""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents) WHERE rn <= 10
""",
    doc="Per-domain quota sampling (Common-Crawl style): cap each source "
    "at its first 10 docs by id — one window, deterministic (ordered by a "
    "key, never rand), so no source dominates the training mix.",
)
def q101(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return sampling.per_key_quota(d, "source", "doc_id", quota=10).select("doc_id", "source")


@query(
    "q102_sequence_packing",
    oracle="""
WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS nt FROM documents),
c AS (SELECT lang, nt,
             coalesce(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM t)
SELECT lang, CAST(floor(st / 512) AS BIGINT) AS pack_id,
       count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS pack_tokens
FROM c GROUP BY lang, pack_id
""",
    doc="Deterministic sequence packing: per language, docs laid out in id "
    "order start in pack floor(running_tokens / 512) — the contiguous "
    "token-stream layout trainers consume; pack id a pure function of "
    "(order, lengths), stable under repartitioning. r10: runs the "
    "HIERARCHICAL prefix sum (sampling.grouped_prefix_sum: cumsum within "
    "doc_id-range chunks + a carry pass over per-chunk totals) — "
    "byte-identical to the single-window spelling, but no task ever "
    "sorts a whole language's corpus slice.",
)
def q102(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").withColumn(
        "nt", text.token_count(F.col("text"))
    )
    packs = sampling.sequence_packing(
        d, "lang", "doc_id", "nt", capacity=512, chunk_width=4096
    )
    return packs.withColumnRenamed("group", "lang")


def _lsh_star_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH RECURSIVE
{lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
{lsh_oracle.STAR_CLOSURE}
SELECT id AS doc_id,
       min(lbl) AS cluster_id,
       (id = min(lbl)) AS is_representative
FROM reach GROUP BY id
"""


@query(
    "q103_lsh_star_dedup",
    oracle=_lsh_star_oracle(),
    doc="Threshold-free LSH dedup at linear edge cost: every band bucket "
    "emits a star to its min doc id (O(docs x bands) edges, identical "
    "components to the bucket cliques), closed by min-label propagation. "
    "The 100 TB candidate-dedup path — no quadratic pair blowup on "
    "boilerplate buckets.",
)
def q103(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    edges = dedup.lsh_bucket_edges(d, "doc_id", "text", num_hashes=16, bands=4)
    return graph.dedup_clusters(edges, d, id_col="doc_id")


# ---------------------------------------------------------------------------
# Round 3 additions, batch 2: chunking, co-occurrence, CMS, quantization,
# dedup-aware sampling weights
# ---------------------------------------------------------------------------


@query(
    "q104_text_chunks",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
k AS (SELECT doc_id, ws, len(ws) AS n,
             CASE WHEN len(ws) <= 64 THEN 1
                  ELSE CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT) + 1 END AS nc
      FROM w WHERE len(ws) > 0)
SELECT doc_id,
       i AS chunk_idx,
       i * 48 + 1 AS start_word,
       least(64, n - i * 48) AS n_words,
       md5(array_to_string(ws[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_fp
FROM k, unnest(range(0, nc)) AS t(i)
""",
    doc="RAG/context chunking: overlapping 64-word windows at stride 48 "
    "(final chunk reaches the tail, every word covered). Map-only "
    "transform over chunk indices -> explode; the chunk unit an embedding "
    "or packing pipeline consumes. operators/text.py::overlapping_chunks.",
)
def q104(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.explode(text.overlapping_chunks(F.col("text"), window=64, stride=48)).alias("c"),
    )
    return c.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_word").alias("start_word"),
        F.col("c.n_words").alias("n_words"),
        F.md5(F.col("c.chunk")).alias("chunk_fp"),
    )


@query(
    "q105_bigram_lift",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM tok),
toks AS (SELECT string_split(text, ' ') AS ws FROM documents),
bg AS (SELECT ws[i] || ' ' || ws[i + 1] AS bigram
       FROM toks, unnest(range(1, len(ws))) AS t(i)),
bcnt AS (SELECT bigram, count(*) AS n_ab FROM bg GROUP BY bigram),
nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_big FROM bg),
top AS (SELECT bigram, n_ab,
               row_number() OVER (ORDER BY n_ab DESC, bigram) AS rn
        FROM bcnt)
SELECT t.bigram, t.n_ab,
       a.n AS n_a, b.n AS n_b,
       round(t.n_ab * nt.n_tok * nt.n_tok / (a.n * b.n * nb.n_big), 4) AS lift
FROM top t
JOIN uni a ON a.w = string_split(t.bigram, ' ')[1]
JOIN uni b ON b.w = string_split(t.bigram, ' ')[2]
CROSS JOIN nt CROSS JOIN nb
WHERE t.rn <= 20
""",
    doc="Collocation mining: association lift of the 20 most frequent word "
    "bigrams — lift = P(ab) / (P(a)P(b)), the exp(PMI) co-occurrence "
    "signal (pure rational arithmetic, no log, so it is bit-reproducible "
    "across engines). Unigram/bigram counts are partial-aggregated "
    "shuffles; the corpus totals ride along as broadcast 1-row aggregates "
    "(no driver-side action).",
)
def q105(spark, sf_dir):
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens(F.col("text"))).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("n"))
    nt = tok.groupBy().agg(F.count("*").cast("double").alias("n_tok"))
    bg = d.select(F.explode(text.bigrams(F.col("text"))).alias("bigram"))
    bcnt = bg.groupBy("bigram").agg(F.count("*").alias("n_ab"))
    nb = bg.groupBy().agg(F.count("*").cast("double").alias("n_big"))
    top = (
        bcnt.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("n_ab"), F.asc("bigram")))
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    a = uni.select(F.col("w").alias("wa"), F.col("n").alias("n_a"))
    b = uni.select(F.col("w").alias("wb"), F.col("n").alias("n_b"))
    parts = F.split(F.col("bigram"), " ")
    return (
        top.withColumn("wa", parts[0])
        .withColumn("wb", parts[1])
        .join(a, "wa")
        .join(b, "wb")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab")
                * F.col("n_tok")
                * F.col("n_tok")
                / (F.col("n_a") * F.col("n_b") * F.col("n_big")),
                4,
            ).alias("lift"),
        )
    )


def _cms_oracle(depth: int = 4, width: int = 256) -> str:
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import cms_bucket_sql

    cells = "\nUNION ALL ".join(
        f"SELECT {d} AS d, {cms_bucket_sql('w', d, width)} AS bucket FROM tok"
        for d in range(depth)
    )
    probes = "\nUNION ALL ".join(
        f"SELECT w, n_exact, {d} AS d, {cms_bucket_sql('w', d, width)} AS bucket FROM top"
        for d in range(depth)
    )
    return f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
cells AS ({cells}),
sk AS (SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY d, bucket),
exact AS (SELECT w, count(*) AS n_exact FROM tok GROUP BY w),
top AS (SELECT w, n_exact FROM (
          SELECT w, n_exact, row_number() OVER (ORDER BY n_exact DESC, w) AS rn
          FROM exact) WHERE rn <= 20),
probes AS ({probes})
SELECT p.w, p.n_exact, min(sk.cnt) AS est,
       min(sk.cnt) - p.n_exact AS overcount
FROM probes p JOIN sk ON sk.d = p.d AND sk.bucket = p.bucket
GROUP BY p.w, p.n_exact
"""


@query(
    "q106_count_min",
    oracle=_cms_oracle(),
    doc="Count-min sketch: 4x256 mergeable frequency summary of the token "
    "stream (partial agg collapses each task to <= depth x width rows "
    "before the shuffle — shuffle volume is the sketch, not the data), "
    "probed for the top-20 tokens vs exact counts. est >= exact always; "
    "sketches merge by summing buckets, the shard/day rollup story. "
    "operators/sketches.py::count_min_build.",
)
def q106(spark, sf_dir):
    from pyspark.sql.window import Window

    from etl_pipeline_for_elasticsearch_json_document_spark.operators import sketches

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens(F.col("text"))).alias("w"))
    sk = sketches.count_min_build(tok, "w", depth=4, width=256)
    exact = tok.groupBy("w").agg(F.count("*").alias("n_exact"))
    top = (
        exact.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("n_exact"), F.asc("w")))
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    est = sketches.count_min_estimate(sk, top.select("w"), "w", depth=4, width=256)
    return top.join(est, top["w"] == est["item"]).select(
        top["w"], "n_exact", "est", (F.col("est") - F.col("n_exact")).alias("overcount")
    )


@query(
    "q107_vector_quantize",
    oracle="""
WITH ex AS (
  SELECT vec_id, s AS dim, embedding[s + 1]::DOUBLE AS x
  FROM embeddings, range(0, 64) t(s)),
st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim),
enc AS (
  SELECT e.vec_id, e.dim, e.x,
         CASE WHEN st.hi = st.lo THEN 0
              ELSE CAST(round((e.x - st.lo) / (st.hi - st.lo) * 255, 0) AS INT)
         END AS code,
         st.lo, st.hi
  FROM ex e JOIN st ON e.dim = st.dim),
err AS (
  SELECT vec_id, dim, code,
         abs(x - (lo + code * (hi - lo) / 255)) AS e
  FROM enc)
SELECT vec_id,
       string_agg(code, ',' ORDER BY dim) AS codes_csv,
       round(max(e), 6) AS max_abs_err,
       round(CAST(sum(CAST(e AS DECIMAL(18,9))) AS DOUBLE), 6) AS sum_abs_err
FROM err GROUP BY vec_id
""",
    doc="Scalar (int8) quantization of the embedding column — the vector-DB "
    "compression pass (float32 -> 1 byte/dim = 4x smaller ANN scans). "
    "Per-dim calibration is one partial-aggregated groupBy collapsed to a "
    "single broadcast row (no driver action); encoding is map-only; "
    "DECIMAL error sums are add-order-independent. "
    "operators/similarity.py::scalar_quantize.",
)
def q107(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.scalar_quantize(emb, "vec_id", "embedding", levels=255)
    return q.select(
        "vec_id",
        F.concat_ws(",", F.col("codes")).alias("codes_csv"),
        "max_abs_err",
        "sum_abs_err",
    )


@query(
    "q109_dedup_weights",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents),
g AS (SELECT fp, min(doc_id) AS keep_id, count(*) AS dup_count
      FROM fp GROUP BY fp)
SELECT f.doc_id, g.dup_count,
       round(1.0 / g.dup_count, 6) AS weight,
       f.doc_id = g.keep_id AS is_keeper
FROM fp f JOIN g ON f.fp = g.fp
""",
    doc="Duplication-aware sampling weights: instead of dropping exact "
    "duplicates, every copy gets weight 1/cluster_size so the cluster "
    "contributes one document's worth of probability mass to training "
    "(the soft-dedup used when provenance must be preserved). One "
    "16-byte-key groupBy + one equi-join back; text never shuffles.",
)
def q109(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))
    g = fp.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count")
    )
    return fp.join(g, "fp").select(
        "doc_id",
        "dup_count",
        F.round(F.lit(1.0) / F.col("dup_count"), 6).alias("weight"),
        (F.col("doc_id") == F.col("keep_id")).alias("is_keeper"),
    )


def _minhash_cross_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.4) -> str:
    matches = lsh_oracle.minhash_matches("sc", "sp", num_hashes)
    return f"""
WITH {lsh_oracle.WORDS},
{lsh_oracle.minhash_banded(num_hashes, bands)},
cand AS (SELECT DISTINCT c.doc_id AS corpus_id, p.doc_id AS probe_id
         FROM banded c JOIN banded p ON c.bucket = p.bucket
         WHERE c.doc_id % 10 <> 0 AND p.doc_id % 10 = 0)
SELECT corpus_id, probe_id,
       round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
FROM cand
JOIN sig sc ON sc.doc_id = corpus_id
JOIN sig sp ON sp.doc_id = probe_id
WHERE round(({matches}) / {float(num_hashes)}, 6) >= {threshold}
"""


@query(
    "q110_fuzzy_decontaminate",
    oracle=_minhash_cross_oracle(),
    doc="Fuzzy benchmark decontamination: MinHash-banded cross-corpus join "
    "flags train docs NEAR-duplicating a held-out test doc (est Jaccard "
    ">= 0.4) — catches lightly edited leaks q100's exact n-gram check "
    "misses. The small test side is broadcast; the corpus streams "
    "map-side. operators/dedup.py::minhash_cross_pairs.",
)
def q110(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return dedup.minhash_cross_pairs(
        train, test, "doc_id", "text", num_hashes=16, bands=4, threshold=0.4
    )


@query(
    "q111_weighted_sample",
    oracle="""
SELECT doc_id, lang,
       round(least(len(string_split(text, ' ')) / 100.0, 1.0) *
             (1.0 - abs(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','an','and','or','of','to','in','is'], w)))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.1)), 6) AS keep_p,
       CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|ws'), 1, 8)) AS BIGINT)
            AS DOUBLE) / 4294967296.0 < round(least(len(string_split(text, ' ')) / 100.0, 1.0) *
             (1.0 - abs(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','an','and','or','of','to','in','is'], w)))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.1)), 6) AS kept
FROM documents
""",
    doc="Quality-weighted subsampling (the CCNet-style keep-probability "
    "pass): each doc is kept with probability equal to its quality score, "
    "decided by a DETERMINISTIC per-doc hash coin (md5 bits as a uniform "
    "in [0,1)) — reproducible across runs, engines, and partitionings, "
    "unlike rand(). Map-only, shuffle-free.",
)
def q111(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    keep_p = F.round(text.quality_score(F.col("text")), 6)
    coin = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|ws"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(2**32))
    )
    return d.select("doc_id", "lang", keep_p.alias("keep_p"), (coin < keep_p).alias("kept"))


@query(
    "q112_facets",
    oracle="""
SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang' ELSE 'source' END AS facet,
       coalesce(lang, source) AS value,
       count(*) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE n_chars >= 200
GROUP BY GROUPING SETS ((lang), (source))
""",
    doc="Elasticsearch-style faceted aggregation: one filtered pass over "
    "the corpus produces every facet's value counts via GROUPING SETS — "
    "the engine-side analog of the reference's ES aggregations, N facets "
    "for one scan + one partial-aggregated shuffle instead of N queries.",
)
def q112(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    return (
        d.groupingSets([[F.col("lang")], [F.col("source")]], F.col("lang"), F.col("source"))
        .agg(
            # grouping() is only resolvable inside the aggregate
            F.grouping("lang").alias("__g_lang"),
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(
            F.when(F.col("__g_lang") == 0, F.lit("lang")).otherwise(F.lit("source")).alias("facet"),
            F.coalesce("lang", "source").alias("value"),
            "n",
            "sum_chars",
        )
    )


_BM25_TERMS = ("join", "hash", "scan")


def _bm25_oracle(k1: float = 1.2, b: float = 0.75, k: int = 10) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM docs),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
       FROM (SELECT doc_id, unnest(ws) AS w FROM docs)
       WHERE w IN ({terms}) GROUP BY doc_id, w),
df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1) *
             tf.tf * ({k1} + 1) /
             (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / stats.avgdl))) AS s
  FROM tf JOIN df ON tf.w = df.w
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, score, rnk FROM (
  SELECT doc_id, round(s, 6) AS score,
         row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rnk
  FROM scored)
WHERE rnk <= {k}
"""


@query(
    "q113_bm25_topk",
    oracle=_bm25_oracle(),
    doc="Full-text match-query scoring (the reference's ES BASE_QUERY "
    "analog executed engine-side): Okapi BM25 over a fixed term set — "
    "tf for the query terms only (filter pushed before the count), df and "
    "corpus stats as broadcast 1-row aggregates, top-k ordered by the "
    "ROUNDED score with doc-id tiebreak per the cross-engine rules.",
)
def q113(spark, sf_dir):
    from pyspark.sql.window import Window

    k1, b = 1.2, 0.75
    d = load_table(spark, sf_dir, "documents")
    # Deliberately NO under-split fan-out before tokenization (r14):
    # unlike _gram_postings (5-gram explode + hash per row), a split +
    # 3-term filter is too cheap to amortize shuffling the text bytes —
    # measured 1.06 s without vs 1.65 s with at ×1, 1.89 vs 2.86 at the
    # ×10 ladder replica (interleaved quiet-box A/Bs).
    docs = d.select("doc_id", text.tokens(F.col("text")).alias("ws"))
    dl = docs.select("doc_id", F.size("ws").cast("double").alias("dl"))
    stats = dl.groupBy().agg(
        F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    terms = F.array(*[F.lit(t) for t in _BM25_TERMS])
    tf = (
        docs.select("doc_id", F.explode(F.filter("ws", lambda w: F.array_contains(terms, w))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    part = (
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(part).alias("s"))
    )
    # Top-k via orderBy+limit — compiles to TakeOrderedAndProject (each
    # task keeps its local top-10, driver merges k×tasks rows), NOT a
    # single-partition global window over every scored doc; the rank
    # window then runs on the bounded 10-row result only.
    top = (
        scored.select("doc_id", F.round("s", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


@query(
    "q114_triangle_counts",
    oracle="""
WITH raw AS (
    SELECT doc_id % 40 AS s, (3 * doc_id + 1) % 40 AS t FROM documents
    UNION ALL
    SELECT doc_id % 40, (7 * doc_id + 2) % 40 FROM documents),
und AS (SELECT DISTINCT least(s, t) AS u, greatest(s, t) AS v FROM raw WHERE s <> t),
deg AS (SELECT n, count(*) AS d FROM (
          SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
ori AS (SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
               CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b
        FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
wedges AS (SELECT o1.a AS w_a, o1.b AS w_b, o2.b AS w_c
           FROM ori o1 JOIN ori o2 ON o1.a = o2.a AND o1.b < o2.b),
closing AS (SELECT least(a, b) AS w_b, greatest(a, b) AS w_c FROM ori),
tris AS (SELECT w_a, w_b, w_c FROM wedges JOIN closing USING (w_b, w_c))
SELECT node, count(*) AS n_triangles FROM (
  SELECT w_a AS node FROM tris
  UNION ALL SELECT w_b FROM tris
  UNION ALL SELECT w_c FROM tris) GROUP BY node
""",
    doc="Per-node triangle counts (degree-ordered orientation, Suri & "
    "Vassilvitskii WWW'11): wedges enumerate only at each edge's smaller "
    "endpoint so fan-out is bounded O(sqrt(m)) even at power-law hubs — "
    "total work O(m^1.5), all equi-joins on int pairs. The clustering-"
    "coefficient / community-structure primitive. "
    "operators/graph.py::triangle_counts.",
)
def q114(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((3 * F.col("doc_id") + 1) % 40).alias("dst")
    )
    e2 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((7 * F.col("doc_id") + 2) % 40).alias("dst")
    )
    return graph.triangle_counts(e1.unionByName(e2))


@query(
    "q115_source_mix",
    oracle="""
WITH w AS (SELECT doc_id, source,
                  CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 2 = 0
                       THEN 4.0 ELSE 1.0 END AS wt
           FROM documents),
per AS (SELECT source, count(*) AS n_s, min(wt) AS wt FROM w GROUP BY source),
tot AS (SELECT sum(wt) AS tw FROM per),
rates AS (SELECT source, least(1.0, 200.0 * (wt / tot.tw) / n_s) AS mix_rate
          FROM per CROSS JOIN tot),
kept AS (
  SELECT w.source, r.mix_rate,
         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 8)) AS BIGINT)
              AS DOUBLE) / 4294967296.0 < r.mix_rate AS kept
  FROM w JOIN rates r ON w.source = r.source)
SELECT source,
       round(mix_rate, 6) AS mix_rate,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM kept GROUP BY source, mix_rate
""",
    doc="Training-mixture sampling: per-source keep rates derived from "
    "target weights and a fixed budget (upweight curated sources 4x), "
    "decided by the deterministic md5 coin — reproducible across engines "
    "and partitionings. Rates come from a broadcast per-source aggregate; "
    "no driver action. operators/sampling.py::target_mix_sample.",
)
def q115(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wt = F.when(
        F.regexp_extract(F.col("source"), r"([0-9]+)$", 1).cast("bigint") % 2 == 0,
        F.lit(4.0),
    ).otherwise(F.lit(1.0))
    out = sampling.target_mix_sample(d, "source", "doc_id", wt, budget=200)
    return out.groupBy("source", F.round("mix_rate", 6).alias("mix_rate")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
    )


@query(
    "q116_decontaminated_stats",
    oracle="""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS gr
      FROM toks),
te AS (SELECT DISTINCT md5(gr) AS gh FROM g WHERE doc_id % 10 = 0),
bad AS (SELECT DISTINCT doc_id FROM g
        WHERE doc_id % 10 <> 0 AND md5(gr) IN (SELECT gh FROM te)),
train AS (SELECT doc_id, lang, len(ws) AS n_tok FROM toks WHERE doc_id % 10 <> 0)
SELECT lang,
       count(*) AS n_train,
       CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN bad.doc_id IS NULL THEN n_tok ELSE 0 END) AS BIGINT) AS clean_tokens,
       round(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
FROM train LEFT JOIN bad USING (doc_id)
GROUP BY lang
""",
    doc="Decontamination as a curation pass, not just a report: train docs "
    "sharing any 5-gram with the held-out test split are anti-joined out "
    "(the q100 postings meet, test side broadcast), and the output is the "
    "per-language curation ledger — surviving docs, clean token budget, "
    "contamination rate. One plan: grams -> broadcast semi/anti join -> "
    "partial-aggregated rollup.",
)
def q116(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)

    def grams(df):
        return df.select(
            "doc_id",
            F.explode(F.array_distinct(text.word_ngrams(F.col("text"), 5))).alias("g"),
        ).select("doc_id", F.md5("g").alias("gh"))

    te = grams(test).select("gh").distinct()
    bad = (
        grams(train)
        .join(F.broadcast(te), "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__bad", F.lit(1))
    )
    t = train.select("doc_id", "lang", text.token_count(F.col("text")).alias("n_tok"))
    joined = t.join(bad, "doc_id", "left")
    is_bad = F.col("__bad").isNotNull()
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_train"),
        F.sum(F.when(is_bad, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(is_bad, 0).otherwise(F.col("n_tok"))).cast("bigint").alias("clean_tokens"),
        F.round(
            F.sum(F.when(is_bad, 1).otherwise(0)) / F.count("*").cast("double"), 6
        ).alias("contamination_rate"),
    )


@query(
    "q117_novelty_scores",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gr
      FROM toks),
h AS (SELECT doc_id, md5(gr) AS gh FROM g),
first_seen AS (SELECT gh, min(doc_id) AS first_doc FROM h GROUP BY gh)
SELECT h.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM h JOIN first_seen f USING (gh)
GROUP BY h.doc_id
""",
    doc="Per-document novelty scoring (the anti-boilerplate curation "
    "signal): the fraction of a doc's distinct word 3-grams whose FIRST "
    "corpus occurrence (min doc id — at scale, min ingest timestamp) is "
    "this doc. Boilerplate-heavy docs score near 0, fresh content near 1. "
    "One groupBy over 16-byte gram hashes + one equi-join back; text "
    "never shuffles.",
)
def q117(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        F.explode(F.array_distinct(text.word_ngrams(F.col("text"), 3))).alias("g"),
    ).select("doc_id", F.md5("g").alias("gh"))
    first_seen = h.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        h.join(first_seen, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) / F.count("*").cast("double"), 6).alias("novelty"),
        )
    )


@query(
    "q118_profile",
    oracle="""
SELECT 'doc_id' AS col, count(*) AS n,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT doc_id) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
FROM documents
UNION ALL
SELECT 'lang', count(*),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT lang), min(lang), max(lang) FROM documents
UNION ALL
SELECT 'source', count(*),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT source), min(source), max(source) FROM documents
UNION ALL
SELECT 'n_chars', count(*),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
""",
    doc="Dataset profiling (the ingest QA report): per column — row count, "
    "null count, exact distinct, min/max as strings. ALL columns' stats "
    "come from ONE aggregate over ONE scan (a per-column UNION would "
    "rescan the table N times — Catalyst does not merge sibling global "
    "aggregates), then stack() pivots the single stats row into the "
    "per-column report. At 100 TB swap exact distinct for the HLL "
    "sketch (q67) column by column.",
)
def q118(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    cols = ("doc_id", "lang", "source", "n_chars")
    aggs = [F.count("*").alias("n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"null_{c}"),
            F.count_distinct(F.col(c)).alias(f"dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"max_{c}"),
        ]
    stats = d.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c in cols
    )
    return stats.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS (col, n_null, n_distinct, min_v, max_v)"
        ),
        "n",
    ).select("col", "n", "n_null", "n_distinct", "min_v", "max_v")


@query(
    "q119_gap_fill",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events WHERE user_id < 20 GROUP BY user_id, day),
bounds AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id),
cal AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds)
SELECT cal.user_id, CAST(cal.day AS VARCHAR) AS day,
       coalesce(daily.n, 0) AS n
FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.day = daily.day
""",
    doc="Time-series gap filling (resample-to-daily with zero-fill): per "
    "user, a generated calendar spine (sequence + explode — map-only over "
    "the tiny per-user bounds) left-joined to the daily counts. The "
    "missing-data normalization every downstream window/forecast job "
    "assumes; no driver-side calendar materialization.",
)
def q119(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select("user_id", F.col("day").cast("string").alias("day"),
                F.coalesce("n", F.lit(0)).alias("n"))
    )


_Q122_ORACLE = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id % 40 AS src, (3 * doc_id + 1) % 40 AS dst FROM documents
    UNION ALL
    SELECT doc_id % 40, (7 * doc_id + 2) % 40 FROM documents)),
l0 AS (SELECT 0 AS node, 0 AS level UNION ALL SELECT 1, 0),
l1 AS (SELECT node, min(level) AS level FROM (
         SELECT node, level FROM l0
         UNION ALL SELECT e.dst, l0.level + 1 FROM e JOIN l0 ON e.src = l0.node
       ) GROUP BY node),
l2 AS (SELECT node, min(level) AS level FROM (
         SELECT node, level FROM l1
         UNION ALL SELECT e.dst, l1.level + 1 FROM e JOIN l1 ON e.src = l1.node
       ) GROUP BY node),
l3 AS (SELECT node, min(level) AS level FROM (
         SELECT node, level FROM l2
         UNION ALL SELECT e.dst, l2.level + 1 FROM e JOIN l2 ON e.src = l2.node
       ) GROUP BY node)
SELECT node, CAST(level AS INT) AS level FROM l3
"""


@query(
    "q122_bfs_levels",
    oracle=_Q122_ORACLE,
    doc="Multi-source BFS hop levels (3 hops from nodes {0,1}) over the "
    "synthetic outlink graph — min-plus iteration: one levels-edges join "
    "+ min groupBy per hop, edges bucketed once, only the small (node, "
    "level) relation moves. Oracle = the hops unrolled as CTEs (same "
    "pattern as q48). operators/graph.py::bfs_levels.",
)
def q122(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    e1 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((3 * F.col("doc_id") + 1) % 40).alias("dst")
    )
    e2 = d.select(
        (F.col("doc_id") % 40).alias("src"), ((7 * F.col("doc_id") + 2) % 40).alias("dst")
    )
    sources = spark.createDataFrame([(0,), (1,)], "node long")
    return graph.bfs_levels(e1.unionByName(e2), sources, max_hops=3)
