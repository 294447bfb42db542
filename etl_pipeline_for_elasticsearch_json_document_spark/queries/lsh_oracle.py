"""DuckDB oracle SQL for the MinHash-LSH hash family, shared by every query
that checks an LSH pipeline (q32, q103, q110, q168, q181, q186, q187, q190).

Hash function k is 8 hex chars of md5(seed-prefix || w) at offset (k%4)*8,
built from the same ``dedup._seed_prefix`` / ``dedup._minhash_seed_offset``
the engine uses, so both engines land every text in the same buckets.
"""

from __future__ import annotations

from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup

#: One row per (doc, distinct space-split word).
WORDS = "words AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)"

#: Star closure over ``banded``: every bucket links its members to its min
#: doc id, and ``reach(id, lbl)`` propagates labels (needs WITH RECURSIVE).
STAR_CLOSURE = """star AS (SELECT doc_id AS b_id, min(doc_id) OVER (PARTITION BY bucket) AS a_id FROM banded),
edges AS (SELECT a_id AS u, b_id AS v FROM star WHERE a_id <> b_id
          UNION ALL SELECT b_id, a_id FROM star WHERE a_id <> b_id),
reach(id, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
)"""


def minhash_mins(num_hashes: int) -> str:
    """The ``mh0 … mh{num_hashes-1}`` signature aggregates over ``w``."""
    return ",\n  ".join(
        f"min(substring(md5('{dedup._seed_prefix(dedup._minhash_seed_offset(k)[0])}' || w), "
        f"{dedup._minhash_seed_offset(k)[1] + 1}, 8)) AS mh{k}"
        for k in range(num_hashes)
    )


def minhash_banded(num_hashes: int, bands: int, words: str = "words") -> str:
    """The ``sig`` (per-doc signature) and ``banded`` (doc_id, bucket) CTEs."""
    rows = num_hashes // bands
    band_exprs = ",\n   ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return f"""sig AS (SELECT doc_id,
  {minhash_mins(num_hashes)}
  FROM {words} GROUP BY doc_id),
banded AS (SELECT doc_id, unnest(list_value(
   {band_exprs})) AS bucket FROM sig)"""


def minhash_matches(a: str, b: str, num_hashes: int) -> str:
    """Count of equal signature components between aliases ``a`` and ``b``."""
    return " + ".join(f"({a}.mh{j} = {b}.mh{j})::INT" for j in range(num_hashes))
