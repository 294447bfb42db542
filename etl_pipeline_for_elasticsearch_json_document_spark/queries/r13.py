"""Round-13 registrations: the per-batch VOLUME contract (VERDICT r12
next-round item 7) — the fifth and final axis of the ingest-QA watch
(q246 kinds, q247 coverage, q248 deep paths, q249 width, q250 volume).

The reference's audit row records ``record_count_loaded`` per batch
(`ElasticSearch ETL.py:271-282`) but nothing ever alarms on it; q250
turns that ledger column into a contract: each batch's doc count and
byte mass against the SUM over the trailing 7 batches, with
integer-exact drop/surge alarms (cross-multiplied — no division — so
any engine agrees bit-for-bit).

Determinism follows registry.py's rules; the fixture builds its JSON
envelope by string concatenation over integer columns (identical bytes
in any engine, so Spark's ``octet_length`` and DuckDB's ``strlen`` — both
BYTE counters — agree exactly).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# q250: per-batch volume contract (doc count + byte mass vs trailing baseline)
# ---------------------------------------------------------------------------


@query(
    "q250_volume_contract",
    oracle="""
WITH src AS (
  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
         '{"u":' || CAST(user_id AS VARCHAR)
         || ',"e":' || CAST(event_id AS VARCHAR) || '}' AS j
  FROM events
  WHERE EXTRACT(day FROM ts) < 20 OR user_id % 8 = 0),
per AS (
  SELECT batch,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(strlen(j)) AS BIGINT) AS n_bytes
  FROM src GROUP BY batch),
ann AS (
  SELECT batch, n_docs, n_bytes,
         CAST(count(*) OVER w AS BIGINT) AS baseline_batches,
         CAST(sum(n_docs) OVER w AS BIGINT) AS baseline_docs,
         CAST(sum(n_bytes) OVER w AS BIGINT) AS baseline_bytes
  FROM per
  WINDOW w AS (ORDER BY batch RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT batch, n_docs, n_bytes, baseline_batches, baseline_docs,
       baseline_bytes,
       CAST(CASE WHEN 2 * n_docs * baseline_batches <= baseline_docs
                   OR 2 * n_bytes * baseline_batches <= baseline_bytes
                 THEN 1 ELSE 0 END AS BIGINT) AS dropped,
       CAST(CASE WHEN n_docs * baseline_batches >= 2 * baseline_docs
                   OR n_bytes * baseline_batches >= 2 * baseline_bytes
                 THEN 1 ELSE 0 END AS BIGINT) AS surged
FROM ann WHERE baseline_batches > 0
""",
    doc="Per-batch VOLUME contract — the fifth face of the ingest-QA "
    "watch (q246 kinds, q247 coverage, q248 deep paths, q249 width): per "
    "export day, doc count and byte mass against the SUM over the "
    "trailing 7 days, with integer-exact alarms (dropped: <= half the "
    "trailing mean, cross-multiplied as 2*cur*w_batches <= w_sum so no "
    "division happens; surged: >= 2x the mean) on docs OR bytes. The "
    "reference's audit row records record_count_loaded per batch "
    "(ElasticSearch ETL.py:271-282) but nothing ever alarms on it — a "
    "feed that silently half-empties (upstream filter deployed wrong, a "
    "shard gone dark) is exactly this signal. The fixture keeps only "
    "user_id % 8 == 0 docs from day 20 on (~1/8 volume), so 'dropped' "
    "fires as the trailing window turns over. Scale: one corpus scan of "
    "map-side count/sum partials shuffled on the tiny batch domain; the "
    "trailing window runs on the batch-domain relation (days — tiny at "
    "any corpus size; the RANGE frame makes gaps shrink the baseline "
    "instead of mis-pairing). Operator: operators/schema_report.py "
    "batch_volume_report; streaming twin streaming/schema_watch.py "
    "run_volume_watch_stream + read_volume_report.",
)
def q250(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_report,
    )

    e = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    j = F.concat(
        F.lit('{"u":'),
        F.col("user_id").cast("string"),
        F.lit(',"e":'),
        F.col("event_id").cast("string"),
        F.lit("}"),
    )
    src = e.filter((day < 20) | (F.col("user_id") % 8 == 0)).select(
        day.alias("batch"), j.alias("j")
    )
    return batch_volume_report(src, "batch", "j", trailing=7)
