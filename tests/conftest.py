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
    from perfbench import gen_docs

    doc = gen_docs.make_documents(1, 1, max_lines=12)[0]
    direct = spark.read.json(spark.sparkContext.parallelize([json.dumps(doc)]))
    flat = flatten(direct, bug_compat=True)
    return doc, flat.columns, flat.collect()[0].asDict()
