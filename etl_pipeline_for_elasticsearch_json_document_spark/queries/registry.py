"""Query registry: every operator from SURVEY.md §2 is exposed as a named
query (spark_fn, oracle_sql) pair.

- ``fn(spark, sf_dir) -> DataFrame`` — the PySpark implementation.
- ``oracle`` — equivalent ANSI SQL for DuckDB over the same parquet tables
  (``None`` for genuinely non-SQL-expressible ops → driver does a weaker
  rows-only check).

Cross-engine determinism rules used throughout:
- money sums go through ``decimal(18,4)`` so the aggregate is exact (float
  sums are partition-order-dependent), then cast back to double;
- every float output is ``round()``-ed; top-k ranks order by the *rounded*
  measure with a unique id tiebreak;
- timestamps are compared as ``unix_micros`` / formatted strings, never via
  engine-specific timestamp rendering.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: Optional[str] = None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # Import side-effect registration here (not at module import) to avoid
    # circulars and keep `registry` dependency-free.
    from etl_pipeline_for_elasticsearch_json_document_spark.queries import (  # noqa: F401
        llm,
        r4,
        r5,
        r6,
        r7,
        r8,
        r9,
        r9b,
        r10,
        r10b,
        r11,
        r12,
        r13,
        relational,
    )

    return dict(REGISTRY)
