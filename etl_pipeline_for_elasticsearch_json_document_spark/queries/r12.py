"""Round-12 registrations: the DEEP-path schema watch (VERDICT r11
missing #1 / next-round item 3) and the flatten width-contract check
(item 8) — the third and fourth ingest-QA signals on the schema-watch
thread (q246 diffs kinds, q247 diffs coverage; q248 extends the diff to
the FULL leaf-path space, q249 watches the generated flatten WIDTH).

Determinism follows registry.py's rules; both fixtures build their JSON
envelopes by STRING CONCATENATION over integer columns (identical text in
any engine), and the deep walk itself is engine-portable by construction:
Spark's ``to_json(variant)`` child tokens and DuckDB's ``json_extract``
sub-tokens are the same bytes (operators/schema_report.py
``json_schema_profile_deep``), so the recursive-CTE oracle replays the
walk exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.queries.registry import query
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


# The DuckDB twin of json_schema_profile_deep's walk, shared by both
# oracles: recursive CTE over json_keys/json_extract building the same
# (batch, path, token) leaf relation the Spark chain of Generates emits.
# COALESCE(.., 'null') mirrors Spark's variant-null token ('json_extract'
# of a JSON null returns SQL NULL); the leaf predicate mirrors "non-empty
# containers below the depth cap descend, everything else surfaces".
# r13 (ADVICE r12): array steps carry an explicit ``arr`` flag instead of
# the former LIKE '[%' sniff, and object keys are quote-escaped in the
# extract path — so an object key that STARTS with '[' or CONTAINS '"'
# now replays identically to the Spark walk for arbitrary corpora, not
# just the fixtures (keys containing '.' remain display-ambiguous in the
# path STRING in both engines equally, so parity holds there too).
_DEEP_WALK = r"""
walk(batch, path, tok, depth) AS (
  SELECT batch, '', j::JSON, 0 FROM src
  UNION ALL
  SELECT batch,
         CASE WHEN c.e.arr THEN path || c.e.nm
              WHEN path = '' THEN c.e.nm
              ELSE path || '.' || c.e.nm END,
         COALESCE(json_extract(tok,
           CASE WHEN c.e.arr THEN '$' || c.e.nm
                ELSE '$."' || replace(c.e.nm, '"', '\"') || '"' END),
           'null'::JSON),
         depth + 1
  FROM walk, unnest(
    CASE WHEN depth >= 20 THEN CAST([] AS STRUCT(nm VARCHAR, arr BOOLEAN)[])
         WHEN json_type(tok) = 'OBJECT' THEN list_transform(
           json_keys(tok), k -> {'nm': k, 'arr': false})
         WHEN json_type(tok) = 'ARRAY' THEN list_transform(
           generate_series(0, CAST(json_array_length(tok) AS BIGINT) - 1),
           x -> {'nm': '[' || x || ']', 'arr': true})
         ELSE CAST([] AS STRUCT(nm VARCHAR, arr BOOLEAN)[]) END) AS c(e)),
leaves AS (
  SELECT batch, path, CAST(tok AS VARCHAR) AS t FROM walk
  WHERE NOT (depth < 20 AND (
        (json_type(tok) = 'OBJECT' AND len(json_keys(tok)) > 0)
     OR (json_type(tok) = 'ARRAY' AND json_array_length(tok) > 0))))
"""


# ---------------------------------------------------------------------------
# q248: deep-path schema evolution (nested retype/new/missing, depth-capped)
# ---------------------------------------------------------------------------


@query(
    "q248_deep_schema_evolution",
    oracle="""
WITH RECURSIVE src AS (
  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
         '{"a":' || CAST(user_id AS VARCHAR)
         || ',"o":{"m":{"flag":'
         || CASE WHEN EXTRACT(day FROM ts) < 15 THEN 'true'
                 ELSE '"x' || CAST(user_id AS VARCHAR) || '"' END
         || '},"lines":[{"q":' || CAST(event_id AS VARCHAR) || '}'
         || CASE WHEN EXTRACT(day FROM ts) >= 20
                 THEN ',{"q":' || CAST(user_id AS VARCHAR) || '}' ELSE '' END
         || ']}'
         || CASE WHEN EXTRACT(day FROM ts) < 20
                 THEN ',"c":"s' || CAST(user_id AS VARCHAR) || '"' ELSE '' END
         || '}' AS j
  FROM events),
"""
    + _DEEP_WALK
    + r""",
per_kind AS (
  SELECT DISTINCT batch, path,
         CASE WHEN t = 'null' THEN 'null'
              WHEN regexp_matches(t, '^-?[0-9]+(\.[0-9]+)?$') THEN 'number'
              WHEN t IN ('true', 'false') THEN 'boolean'
              ELSE 'string' END AS k
  FROM leaves),
prof AS (
  SELECT batch, path, string_agg(k, '+' ORDER BY k) AS kinds
  FROM per_kind GROUP BY batch, path),
eligible AS (
  SELECT b1.batch FROM (SELECT DISTINCT batch FROM prof) b1
  JOIN (SELECT DISTINCT batch + 1 AS batch FROM prof) b2 USING (batch)),
diff AS (
  SELECT coalesce(c.batch, p.batch) AS batch,
         coalesce(c.path, p.path) AS path,
         c.kinds AS cur_kinds, p.kinds AS prev_kinds
  FROM prof c
  FULL OUTER JOIN (SELECT batch + 1 AS batch, path, kinds FROM prof) p
    ON c.batch = p.batch AND c.path = p.path)
SELECT d.batch, d.path,
       CASE WHEN prev_kinds IS NULL THEN 'new'
            WHEN cur_kinds IS NULL THEN 'missing'
            ELSE 'kind_changed' END AS status,
       prev_kinds, cur_kinds
FROM diff d JOIN eligible e ON d.batch = e.batch
WHERE prev_kinds IS NULL OR cur_kinds IS NULL OR prev_kinds <> cur_kinds
""",
    doc="Deep-path schema evolution report — q246 extended to the FULL "
    "leaf-path space (VERDICT r11 missing #1): a nested field three "
    "levels down that retypes (o.m.flag boolean->string on day 15), a "
    "dict-array slot that starts shipping (o.lines[1].q new on day 20), "
    "and a top-level path that vanishes (c missing on day 20) all "
    "surface, where the map<string,string> profile saw only top-level "
    "keys. The walk is ONE corpus scan through max_depth chained "
    "Generates carrying exact JSON TOKENS (to_json(variant)) — a string "
    "leaf that merely looks like JSON is never descended — and the "
    "DuckDB oracle replays the identical walk as a recursive CTE over "
    "json_keys/json_extract, whose sub-tokens are the same bytes. "
    "Scale: per-level work is map-side and narrow; everything after the "
    "distinct is path-domain-sized, and the depth cap (the reference's "
    "max_depth=20, ElasticSearch ETL.py:37-76) bounds the chain. "
    "Operator: operators/schema_report.py json_schema_profile_deep; "
    "streaming twin run_schema_watch_stream(deep=True).",
)
def q248(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        json_schema_profile_deep,
        schema_evolution_report,
    )

    e = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    uid = F.col("user_id").cast("string")
    eid = F.col("event_id").cast("string")
    flag = F.when(day < 15, F.lit("true")).otherwise(
        F.concat(F.lit('"x'), uid, F.lit('"'))
    )
    lines = F.concat(
        F.lit('[{"q":'),
        eid,
        F.lit("}"),
        F.when(day >= 20, F.concat(F.lit(',{"q":'), uid, F.lit("}"))).otherwise(""),
        F.lit("]"),
    )
    j = F.concat(
        F.lit('{"a":'),
        uid,
        F.lit(',"o":{"m":{"flag":'),
        flag,
        F.lit('},"lines":'),
        lines,
        F.lit("}"),
        F.when(day < 20, F.concat(F.lit(',"c":"s'), uid, F.lit('"'))).otherwise(""),
        F.lit("}"),
    )
    src = e.select(day.alias("batch"), j.alias("j"))
    return schema_evolution_report(json_schema_profile_deep(src, "batch", "j"))


# ---------------------------------------------------------------------------
# q249: per-batch flatten width contract (column count + array fan-out drift)
# ---------------------------------------------------------------------------


@query(
    "q249_flatten_width_contract",
    oracle="""
WITH RECURSIVE src AS (
  SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS batch,
         '{"a":' || CAST(user_id AS VARCHAR)
         || ',"lines":[{"q":' || CAST(event_id AS VARCHAR) || '}'
         || CASE WHEN EXTRACT(day FROM ts) >= 15
                 THEN ',{"q":' || CAST(user_id AS VARCHAR)
                      || '},{"q":' || CAST(event_id AS VARCHAR) || '}'
                 ELSE '' END
         || '],"tags":["t1"'
         || CASE WHEN user_id % 2 = 0 THEN ',"t2"' ELSE '' END
         || ']}' AS j
  FROM events),
"""
    + _DEEP_WALK
    + r""",
paths AS (SELECT DISTINCT batch, path FROM leaves),
cols AS (
  SELECT batch, CAST(count(*) AS BIGINT) AS n_cols
  FROM (SELECT DISTINCT batch,
               regexp_replace(path, '\[[0-9]+\]$', '') AS col
        FROM paths)
  GROUP BY batch),
fan AS (
  SELECT batch, max(CAST(i AS BIGINT)) + 1 AS max_fanout
  FROM paths, unnest(regexp_extract_all(path, '\[([0-9]+)\]\.', 1)) AS u(i)
  GROUP BY batch),
w AS (
  SELECT cols.batch, cols.n_cols,
         CAST(coalesce(fan.max_fanout, 0) AS BIGINT) AS max_fanout
  FROM cols LEFT JOIN fan USING (batch))
SELECT c.batch, c.n_cols, p.n_cols AS prev_n_cols,
       c.max_fanout, p.max_fanout AS prev_max_fanout,
       CAST(CASE WHEN 2 * c.n_cols >= 3 * p.n_cols
                   OR (p.max_fanout = 0 AND c.max_fanout > 0)
                   OR (p.max_fanout > 0 AND 2 * c.max_fanout >= 3 * p.max_fanout)
                 THEN 1 ELSE 0 END AS BIGINT) AS widened
FROM w c JOIN (SELECT batch + 1 AS batch, n_cols, max_fanout FROM w) p
  USING (batch)
""",
    doc="Per-batch flatten WIDTH contract — the third face of the schema "
    "watch (q246 kinds, q247 coverage): per export day, the number of "
    "columns the generated flatten select would emit and the max "
    "dict-array fan-out (the Lines_i count, ElasticSearch ETL.py:63-65), "
    "each against the previous day, with a 'widened' alarm at >=1.5x "
    "growth (integer-exact: 2*cur >= 3*prev) — a feed that doubles its "
    "array lengths is caught BEFORE the writer produces a 50k-column "
    "TSV. Column counting mirrors the flatten rules exactly: dict-array "
    "elements pivot positionally (lines[i].q counts per slot, A10) while "
    "primitive arrays serialize to ONE JSON cell (trailing [i] collapses "
    "— tags varies 1-2 elements per doc yet always counts 1, A11). The "
    "fixture's lines array jumps 1->3 slots on day 15: n_cols 3->5, "
    "max_fanout 1->3, widened fires on batch 15 only. Rides the same "
    "deep walk as q248 (one corpus scan, path-domain aggregation); "
    "tests/test_schema_report.py asserts the per-batch count equals "
    "len(flatten_plan) on the same documents.",
)
def q249(spark, sf_dir):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        flatten_width_report,
    )

    e = load_table(spark, sf_dir, "events")
    day = F.dayofmonth("ts")
    uid = F.col("user_id").cast("string")
    eid = F.col("event_id").cast("string")
    lines = F.concat(
        F.lit('[{"q":'),
        eid,
        F.lit("}"),
        F.when(
            day >= 15,
            F.concat(F.lit(',{"q":'), uid, F.lit('},{"q":'), eid, F.lit("}")),
        ).otherwise(""),
        F.lit("]"),
    )
    tags = F.concat(
        F.lit('["t1"'),
        F.when(F.col("user_id") % 2 == 0, F.lit(',"t2"')).otherwise(""),
        F.lit("]"),
    )
    j = F.concat(
        F.lit('{"a":'), uid, F.lit(',"lines":'), lines, F.lit(',"tags":'),
        tags, F.lit("}"),
    )
    src = e.select(day.alias("batch"), j.alias("j"))
    return flatten_width_report(src, "batch", "j")
