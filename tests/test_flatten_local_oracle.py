"""``flatten(df, bug_compat=True)`` against the driver-local
``local.json_to_tsv_in_memory`` on the same documents: same column order
and every cell. Both reproduce the reference's output, so this pins
bug_compat end to end without the reference checkout."""

from __future__ import annotations

import json

import pytest

from perfbench import gen_docs

from etl_pipeline_for_elasticsearch_json_document_spark.local import json_to_tsv_in_memory
from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten

CASES = {
    "gen_docs-1-1": (gen_docs.make_documents(1, 10, max_lines=1), 604),
    "gen_docs-2-12": (gen_docs.make_documents(2, 10, max_lines=12), 4412),
    "collision": ([{"x": [{"y": [{"v": 1}, {"v": 2}, {"v": 3}]}], "x_0": {"y": [{"v": 7}]}}], 3),
    "collision-mirror": (
        [{"x": [{"y": [{"v": 1}]}], "x_0": {"y": [{"v": 7}, {"v": 8}, {"v": 9}]}}],
        3,
    ),
    "nulls": (
        [
            {"id": 1, "m": {"a": None, "b": 1}, "codes": [1, None, 3]},
            {"id": 2, "m": {"a": "z"}, "codes": []},
        ],
        4,
    ),
    "null-element": ([{"arr": [{"x": 1}, None, {"x": 3}], "id": 1}], 3),
}


@pytest.mark.parametrize("case", list(CASES))
def test_bug_compat_equals_local(spark, case):
    docs, n_columns = CASES[case]
    expected = json_to_tsv_in_memory(docs)
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs], 1))
    out = flatten(df, bug_compat=True)
    assert len(out.columns) == n_columns
    assert out.columns == list(expected.columns)
    assert [list(r) for r in out.collect()] == expected.values.tolist()
