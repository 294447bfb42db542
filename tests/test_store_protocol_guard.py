"""Structural guard: the delta-store ledger, the atomic file write and
the foreachBatch starter each live in one place, so a new store stream
reuses them instead of copying the protocol."""

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
        ("writeStream.foreachBatch", "streaming/identity.py"),
    ],
)
def test_protocol_lives_in_one_module(needle, home):
    found = sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if needle in p.read_text()
    )
    assert found == [home]
