"""Structural guard: the delta-store ledger, its version directories and
snapshot marker, the atomic file write, the exclusive sidecar create, the
foreachBatch starter, the Elasticsearch ``search_after`` page loop and
its 429/503 retry loop, the DuckDB oracle of the MinHash hash family and
the export's TSV write each live in one place, so a new store, stream,
source or query reuses them instead of copying the protocol. A retired
protocol (home ``None``, the private ``.__old__`` directory swap) lives
in no module. A needle's own ``def`` is not a use of it."""

from __future__ import annotations

import pathlib

import pytest

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "etl_pipeline_for_elasticsearch_json_document_spark"
)


@pytest.mark.parametrize(
    "needle, home",
    [
        ('"_ledger"', "operators/delta_store.py"),
        ("os.replace(", "operators/delta_store.py"),
        ('f"v={', "operators/delta_store.py"),
        ('"_SNAPSHOT"', "operators/delta_store.py"),
        ("writeStream.foreachBatch", "streaming/identity.py"),
        (".__old__", None),
        ("os.link(", "operators/delta_store.py"),
        ('hits[-1]["sort"]', "sources/es_http.py"),
        ("e.code not in (429, 503)", "sources/es_http.py"),
        ("min(substring(md5(", "queries/lsh_oracle.py"),
        ("write_tsv(", "jobs.py"),
    ],
)
def test_protocol_lives_in_one_module(needle, home):
    found = sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if needle in p.read_text().replace("def " + needle, "")
    )
    assert found == ([home] if home else [])
