"""Counted work per call: Spark jobs run by flatten discovery and by the
batch export, pinned as equalities so a regression reads as a failure,
not as noise.

A lower count updates the pin (and is recorded in CHANGES.md); a higher
count fails the test.
"""

from __future__ import annotations

import contextlib
import os

import pytest

from perfbench import gen_docs

from etl_pipeline_for_elasticsearch_json_document_spark import jobs
from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import count_min_cells
from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten_plan
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
    _rollup_batch_processor,
)


@contextlib.contextmanager
def job_group(spark, name: str):
    """Run the block in Spark job group ``name``; yields a list that holds
    the group's job count once the block ends."""
    sc = spark.sparkContext
    counted: list[int] = []
    sc.setJobGroup(name, name)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        counted.append(len(sc.statusTracker().getJobIdsForGroup(name)))


def _export_jobs(spark, tmp_path, batch_size: int, name: str) -> int:
    path = tmp_path / f"{name}.json"
    path.write_bytes(gen_docs.dumps_lines(gen_docs.make_documents(1, 10, max_lines=1)))
    src = spark.read.json(str(path))  # schema inference stays outside the group
    with job_group(spark, name) as jobs_run:
        n = jobs.fetch_and_export_documents(
            spark, src, os.fspath(tmp_path / f"{name}-out"), os.fspath(tmp_path / f"{name}-audit"), batch_size=batch_size
        )
    assert n == 10
    return jobs_run[0]


def test_export_job_count(spark, tmp_path, monkeypatch):
    """10 documents in 2 pages: 2 key collects, 1 flatten discovery job,
    the one write (shuffle map + result) and the audit append. Extra
    pages add only their key collects, and the TSV write runs once per
    export whatever the page count."""
    writes = []
    real = jobs.write_tsv

    def counting_write(*args, **kwargs):
        writes.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(jobs, "write_tsv", counting_write)
    two_pages = _export_jobs(spark, tmp_path, 5, "two-pages")
    assert two_pages == 6
    assert _export_jobs(spark, tmp_path, 2, "five-pages") == two_pages + 3
    assert len(writes) == 2


def _frame(spark, tmp_path, kind: str):
    if kind == "gen_docs":
        path = tmp_path / "docs.json"
        path.write_bytes(gen_docs.dumps_lines(gen_docs.make_documents(1, 10, max_lines=1)))
        return spark.read.json(str(path))
    if kind == "map":
        return spark.createDataFrame(
            [({"a": [{"x": 1}, {"x": 2}], "b": [{"x": 3}]},)],
            schema="m map<string,array<struct<x:int>>>",
        )
    return spark.createDataFrame(
        [([{"m": {"p": [{"x": 1}]}}, {"m": {"q": [{"x": 2}, {"x": 3}]}}],)],
        schema="arr array<struct<m:map<string,array<struct<x:int>>>>>",
    )


@pytest.mark.parametrize(
    "kind, bug_compat",
    [("gen_docs", False), ("gen_docs", True), ("map", False), ("array_of_map", False)],
)
def test_flatten_plan_job_count(spark, tmp_path, kind, bug_compat):
    """Discovery is one Spark job whatever the schema: the probe over
    arrays and maps by default, the presence pass with bug_compat."""
    df = _frame(spark, tmp_path, kind)
    name = f"flatten-plan-{kind}-{bug_compat}"
    with job_group(spark, name) as jobs_run:
        assert flatten_plan(df, bug_compat=bug_compat)
    assert jobs_run[0] == 1


def test_sketch_tick_job_count(spark, tmp_path):
    """One count-min tick of the sketch stream (the rollup processor with
    run_cms_stream's keys, measure and single partition) is 3 Spark jobs,
    and a tick on a store with a 3-delta tail costs the same: a tick
    writes its own delta and reads no standing state."""
    proc = _rollup_batch_processor(
        os.fspath(tmp_path / "cms"), "lin", ["d", "bucket"], {"cnt": ("count", "*")},
        n_partitions=1,
    )
    words = spark.createDataFrame([(f"w{i % 13}",) for i in range(50)], "w string")
    cells = count_min_cells(words, "w", depth=4, width=32)
    counts = []
    for tick in range(4):
        with job_group(spark, f"cms-tick-{tick}") as jobs_run:
            proc(cells, tick)
        counts.append(jobs_run[0])
    assert counts[0] == 3
    assert counts[3] == counts[0]
