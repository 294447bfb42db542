"""Oracle identity: every registered query keeps its name and the exact
DuckDB oracle SQL it was checked with. ``query_oracle_sha256.json`` maps each
of the registry's names to the sha256 of its ``Query.oracle`` string, so a
refactor of the query layer (shared CTE builders, moved modules) must leave
every oracle byte-identical.

A hash change is a behaviour change: update the pin only together with an
oracle check that shows the new SQL is the right one, and record it in
CHANGES.md.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from etl_pipeline_for_elasticsearch_json_document_spark.queries import all_queries

PIN = Path(__file__).with_name("query_oracle_sha256.json")


def _sha(sql):
    return None if sql is None else hashlib.sha256(sql.encode()).hexdigest()


def test_registry_names_match_pin():
    pinned = json.loads(PIN.read_text())
    assert len(pinned) == 248
    assert sorted(all_queries()) == sorted(pinned)


def test_oracle_hashes_match_pin():
    """Every registered query has a non-empty oracle, and its hash is the
    pinned one."""
    pinned = json.loads(PIN.read_text())
    queries = all_queries()
    missing = sorted(n for n, q in queries.items() if not (isinstance(q.oracle, str) and q.oracle.strip()))
    assert not missing, f"queries registered without an oracle: {missing}"
    got = {name: _sha(q.oracle) for name, q in queries.items()}
    changed = sorted(n for n in pinned if got.get(n) != pinned[n])
    assert not changed, f"oracle SQL changed for {changed}"
