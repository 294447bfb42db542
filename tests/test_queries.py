"""Local replica of the driver's t2 correctness gate: run every registered
query on Spark AND its DuckDB oracle at sf0.001, compare row count, column
names, and an order-insensitive multiset of stringified rows."""

from __future__ import annotations

import math

import duckdb
import pytest

from etl_pipeline_for_elasticsearch_json_document_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Stay dtype-strict: the driver hashes pandas frames, where a DuckDB
        # HUGEINT (sum over ints) arrives as float64 and mismatches a Spark
        # bigint. Rendering 3.0 as "3" here would hide exactly that bug.
        return repr(v + 0.0 if v == 0 else v)
    return str(v)


def row_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def spark_type_class(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt == "boolean":
        return "bool"
    if dt.startswith("array"):
        return "array"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    return "str"


def duck_type_class(dt: str) -> str:
    """Class of a DuckDB type AS PANDAS WOULD SEE IT — the driver compares
    pandas frames, where HUGEINT (sum over ints) silently becomes float64."""
    dt = dt.upper()
    if dt == "HUGEINT":
        return "float"
    if "INT" in dt:
        return "int"
    if dt in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt == "BOOLEAN":
        return "bool"
    if dt.endswith("[]"):
        return "array"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    return "str"


QUERIES = all_queries()
#: Oracle comparisons that individually cost >= ~8 s (closure loops, LSH
#: banding, the 20-generate deep walk) — marked slow so the pre-commit
#: fast subset (-m "not slow", README) stays usable; CI runs everything.
SLOW_ORACLES = {
    "q35_dedup_clusters",
    "q41_knn_lsh",
    "q46_cdc_chunk_dedup",
    "q103_lsh_star_dedup",
    "q128_dedup_cluster_stats",
    "q139_semantic_dedup",
    "q243_contamination_cascade",
    "q248_deep_schema_evolution",
}
ORACLED = [
    pytest.param(n, marks=[pytest.mark.slow] if n in SLOW_ORACLES else [])
    for n, q in sorted(QUERIES.items())
    if q.oracle
]


@pytest.mark.parametrize("name", ORACLED)
def test_query_vs_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(q.oracle)
    d_cols = list(rel.columns)
    d_types = [str(t) for t in rel.types]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    s_class = {c: spark_type_class(t) for c, t in sdf.dtypes}
    d_class = {c: duck_type_class(t) for c, t in zip(d_cols, d_types)}
    mismatched = {c: (s_class[c], d_class[c]) for c in s_class if s_class[c] != d_class[c]}
    assert not mismatched, f"{name}: dtype class mismatch (spark, duck-as-pandas): {mismatched}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    sm = row_multiset(s_cols, s_rows)
    dm = row_multiset(d_cols, d_rows)
    if sm != dm:
        diff = [(a, b) for a, b in zip(sm, dm) if a != b][:5]
        pytest.fail(f"{name}: value mismatch, e.g. {diff}")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == sorted(df.columns)
