"""The driver's verification rotation (``__spark_entry__._ordered``) is
derived from the committed ``CORRECTNESS_r{N}.json`` files: names no file
proves green first, then the stalest green proofs. The last round's
names therefore come last, not first."""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry
from etl_pipeline_for_elasticsearch_json_document_spark.queries import all_queries

ROOT = Path(entry.__file__).resolve().parent


def test_every_registered_name_once():
    order = entry._ordered()
    assert len(order) == len(set(order))
    assert sorted(order) == sorted(all_queries())
    assert list(entry.queries()) == order
    assert list(entry.oracle_sql()) == [n for n in order if all_queries()[n].oracle]


def test_latest_round_is_not_reverified_first():
    r14 = set(json.loads((ROOT / "CORRECTNESS_r14.json").read_text()))
    assert not r14 & set(entry._ordered()[:50])


def test_stalest_proof_first(tmp_path, monkeypatch):
    green = {"hash_match": True}
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"q01_pricing_summary": green, "q02_filter_predicates": green})
    )
    (tmp_path / "CORRECTNESS_r3.json").write_text(
        json.dumps({"q01_pricing_summary": green, "q03_revenue_topn": {"hash_match": False}})
    )
    monkeypatch.setattr(entry, "_ROOT", tmp_path)
    order = entry._ordered()
    assert order[-2:] == ["q02_filter_predicates", "q01_pricing_summary"]
    assert order[:-2] == sorted(set(all_queries()) - set(order[-2:]))


def test_no_correctness_files_means_never_checked(tmp_path, monkeypatch):
    monkeypatch.setattr(entry, "_ROOT", tmp_path)
    assert entry._last_verified() == {}
    assert entry._ordered() == sorted(all_queries())
