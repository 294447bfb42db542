"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All queries live in
``etl_pipeline_for_elasticsearch_json_document_spark.queries`` (one entry
per operator from SURVEY.md §2); this module just adapts the registry to
the driver's interface.

The driver verifies a bounded number of queries per round in dict order,
so both dicts follow one rotation derived from the committed
``CORRECTNESS_r{N}.json`` files: names that no file proves green come
first, then every other name, stalest first (by the latest round whose
file records ``hash_match`` for it), with the name as the tiebreak.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(_ROOT))

from etl_pipeline_for_elasticsearch_json_document_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the engine's signature
    operation — flatten semi-structured events (JSON props) into the
    reference's wide all-string shape, executed as one Catalyst select."""
    return all_queries()["q70_flatten_events"].fn(spark, "/root/testdata/sf0.001")


def _last_verified() -> dict[str, int]:
    """name → the latest round N whose ``CORRECTNESS_rN.json`` (next to this
    module) records ``hash_match`` for it."""
    last: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, result in json.loads(path.read_text()).items():
            if result.get("hash_match"):
                last[name] = max(int(m[1]), last.get(name, 0))
    return last


def _ordered() -> list[str]:
    last = _last_verified()
    return sorted(all_queries(), key=lambda n: (last.get(n, 0), n))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = all_queries()
    return {name: reg[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    reg = all_queries()
    return {name: reg[name].oracle for name in _ordered() if reg[name].oracle}
