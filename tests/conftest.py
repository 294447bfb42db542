from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest


@pytest.fixture(scope="session")
def spark():
    from etl_pipeline_for_elasticsearch_json_document_spark.session import get_spark

    spark = get_spark("etl-pipeline-spark-tests")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


REFERENCE_ETL = "/root/reference/ElasticSearch ETL.py"
#: the reference's golden search response: 1 hit, 1 × 5,028 flattened columns
GOLDEN = os.path.join(os.path.dirname(REFERENCE_ETL), "ElasticSearch_Document.json")


@pytest.fixture(scope="session")
def reference_etl():
    """Import the reference implementation in place (read-only) to use as a
    differential test oracle. Its absent config/util modules are stubbed the
    same way SURVEY.md §0.2 describes. Skips when the reference checkout
    is absent."""
    if not os.path.exists(REFERENCE_ETL):
        pytest.skip(f"reference implementation not found: {REFERENCE_ETL}")
    es_cfg = types.ModuleType("elasticsearch_config")
    es_cfg.BASE_QUERY = {"query": {"match_all": {}}, "size": 10}
    es_cfg.ES = None
    utils = types.ModuleType("utils")
    utils.log_to_sql_db = lambda **kw: None
    sys.modules.setdefault("elasticsearch_config", es_cfg)
    sys.modules.setdefault("utils", utils)
    spec = importlib.util.spec_from_file_location("reference_etl", REFERENCE_ETL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def reference_golden():
    """Path of the reference's own golden document, for the tests that
    pin values only it has. Skips when the reference checkout is absent."""
    if not os.path.exists(GOLDEN):
        pytest.skip(f"reference golden document not found: {GOLDEN}")
    return GOLDEN


def _golden_shaped_doc() -> dict:
    """One golden-shaped document: perfbench gen_docs, 12 claim lines."""
    from perfbench import gen_docs

    return gen_docs.make_documents(1, 1, max_lines=12)[0]


@pytest.fixture(scope="session")
def golden_doc(tmp_path_factory):
    """A hermetic golden document: :func:`_golden_shaped_doc` written as
    a pretty-printed one-hit ES search response (FIXTURES.md A3), the
    reference's file shape. Returns its path."""
    import json

    doc = _golden_shaped_doc()
    hit = {
        "_index": "rta_claim_headers-000001",
        "_type": "_doc",
        "_id": str(doc["claimRequestId"]),
        "_score": 1.0,
        "_source": doc,
    }
    envelope = {
        "took": 1,
        "timed_out": False,
        "_shards": {"total": 1, "successful": 1, "skipped": 0, "failed": 0},
        "hits": {"total": {"value": 1, "relation": "eq"}, "max_score": 1.0, "hits": [hit]},
    }
    path = tmp_path_factory.mktemp("golden") / "golden_document.json"
    path.write_text(json.dumps(envelope, indent=2))
    return str(path)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def transport_parity_doc(spark):
    """One golden-shaped document (perfbench gen_docs, 12 claim lines)
    and flatten(that document read directly, bug_compat=True), computed
    once per session: ``(doc, columns, row dict)``. The transport-parity
    tests index ``doc`` into the fake cluster, re-scan it, and compare
    their flatten with this one; reading the document directly is the
    reference's own file path, and the golden byte parity of that path
    is pinned by tests/test_flatten.py::test_golden_document_parity."""
    import json

    from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import (
        flatten,
    )
    doc = _golden_shaped_doc()
    direct = spark.read.json(spark.sparkContext.parallelize([json.dumps(doc)]))
    flat = flatten(direct, bug_compat=True)
    return doc, flat.columns, flat.collect()[0].asDict()
