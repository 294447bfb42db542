"""Plan identity: ``flatten_plan`` and ``flatten_stages`` must emit the same
SQL strings as the pinned hashes for every discovery path — gen_docs
documents (seeds × claim lines × ``bug_compat``) and hand-built MapType
frames. A discovery or walk refactor that changes a single column name,
index range or expression shows up here as a hash mismatch.

A hash change is a behaviour change: update the pin only together with a
test that shows the new plan is the right one, and record it in CHANGES.md.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from perfbench import gen_docs

from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import (
    flatten_plan,
    flatten_stages,
)

#: (case, bug_compat) → (sha256 of the flatten_plan lines, sha256 of the
#: flatten_stages stages)
EXPECTED = {
    ("gen_docs-1-1", False): (
        "0a665acff44235ad7a70b1187c89d9465190835425d854836de15f71e94833e6",
        "84599b374c76bef80e662cafee15394a650ea567d06f81c8a5904768638a1acc",
    ),
    ("gen_docs-1-1", True): (
        "567b0ea8c870ba3f779e2992c9926db15165bc12d7040d177ff22be248cd29ea",
        "b2cae8eec39ca96e58efe41013e8d9a990776bb31ee5750755ab597917152a75",
    ),
    ("gen_docs-1-12", False): (
        "c219097d83c74bd9df4637ae4c354bb68d3e196dfdf9dea8cda640371f328eba",
        "9ddc88f0aef2fa0d6b41ec88c1a4ded7def149bca969acfc680893c85fce4d62",
    ),
    ("gen_docs-1-12", True): (
        "ba15696ad14deefac0581b012670377876bca6c69b859e67688c33c7a5f10119",
        "e2321ee3970fc3207088afdf164d56152851843f6aee3a1dfec6df8e5ed9aaba",
    ),
    ("gen_docs-2-1", False): (
        "0a665acff44235ad7a70b1187c89d9465190835425d854836de15f71e94833e6",
        "84599b374c76bef80e662cafee15394a650ea567d06f81c8a5904768638a1acc",
    ),
    ("gen_docs-2-1", True): (
        "567b0ea8c870ba3f779e2992c9926db15165bc12d7040d177ff22be248cd29ea",
        "b2cae8eec39ca96e58efe41013e8d9a990776bb31ee5750755ab597917152a75",
    ),
    ("gen_docs-2-12", False): (
        "e70341cc2e91505fd4597cd08a4523e5c57f769af543d756f3f42916392a436b",
        "2d0d999b7ee27de135a2eed6c0a34bc40e7ae51b3c3dd3ba232922680b3303dd",
    ),
    ("gen_docs-2-12", True): (
        "f99e0d40b4747436775c69ff629a36e4f68a0f43c40172439d27975c02bf6433",
        "a3ac320d7db81fcf9fb96920ffba722ec0c31a77ab86f02a475fc75b7dbbc009",
    ),
    ("map_double", False): (
        "52573f53f1e88cf1c5c2080b9f893eaa31695c83c5c3dd8dc8c5bdf0f79740cd",
        "52573f53f1e88cf1c5c2080b9f893eaa31695c83c5c3dd8dc8c5bdf0f79740cd",
    ),
    ("map_double", True): (
        "52573f53f1e88cf1c5c2080b9f893eaa31695c83c5c3dd8dc8c5bdf0f79740cd",
        "52573f53f1e88cf1c5c2080b9f893eaa31695c83c5c3dd8dc8c5bdf0f79740cd",
    ),
    ("map_array_struct", False): (
        "64298cddc2e11f5ccb07688683242d0451df316586fbed0b2cd1b37a53a3a71b",
        "e7a38b06026f5dd34d8fa8c139a97686c729cc47ce48ece57df33a749b91998a",
    ),
    ("map_array_struct", True): (
        "4397d32da2b7cd787be98367d552a850530158b166398b63b3442f4ec1376610",
        "21f19ed65d1f2a0de7e97072e6d814c9e914d3bc43f4dd2f633acae9766a88e0",
    ),
    ("arr_map", False): (
        "fef25e663f9ff88835a3a628d2075ecdb7d462d154451f24c934d9aeae606eb5",
        "65eb52d8db37b53fd6d9c412719001e202336bd7f145194181ea56277b8e360f",
    ),
    ("arr_map", True): (
        "5b7f2bedfbc0e190c8dbcc6e78b5a2921f3052425383b158e72fc6e035cb1abd",
        "231f1d9394315c90f39eadf41a13b54295a5fa675b57cf313fabc19b3ac5d58e",
    ),
}

GEN_DOCS = [(seed, lines) for seed in (1, 2) for lines in (1, 12)]

#: MapType frames (JSON inference never yields maps, so these are built
#: with an explicit schema). ``arr_map`` has different keys at each index,
#: the last index holding every key; with disjoint keys default mode
#: gains columns, see test_flatten.py::test_map_keys_union_over_every_index.
MAP_FRAMES = {
    "map_double": (
        [(1, {"unitPrice": 9.5, "qty": 2.0}), (2, {"qty": 1.0, "colorCode": 3.0})],
        "id bigint, attrs map<string,double>",
    ),
    "map_array_struct": (
        [({"a": [{"x": 1}, {"x": 2}], "b": [{"x": 3}], "c": []},)],
        "m map<string,array<struct<x:int>>>",
    ),
    "arr_map": (
        [([{"m": {"p": [{"x": 1}]}}, {"m": {"p": [], "q": [{"x": 2}, {"x": 3}]}}],)],
        "arr array<struct<m:map<string,array<struct<x:int>>>>>",
    ),
}


def _frame(spark, case: str):
    if case in MAP_FRAMES:
        rows, schema = MAP_FRAMES[case]
        return spark.createDataFrame(rows, schema=schema)
    seed, lines = (int(p) for p in case.split("-")[1:])
    docs = gen_docs.make_documents(seed, 10, max_lines=lines)
    return spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs], 1))


def digests(spark, case: str, bug_compat: bool) -> tuple[str, str]:
    df = _frame(spark, case)
    plan = "\n".join(flatten_plan(df, bug_compat=bug_compat))
    stages = "\n\n".join("\n".join(st) for st in flatten_stages(df, bug_compat=bug_compat))
    return (
        hashlib.sha256(plan.encode()).hexdigest(),
        hashlib.sha256(stages.encode()).hexdigest(),
    )


CASES = [f"gen_docs-{s}-{n}" for s, n in GEN_DOCS] + list(MAP_FRAMES)


@pytest.mark.parametrize("bug_compat", [False, True], ids=["default", "bug_compat"])
@pytest.mark.parametrize("case", CASES)
def test_plan_identity(spark, case, bug_compat):
    assert digests(spark, case, bug_compat) == EXPECTED[(case, bug_compat)]
