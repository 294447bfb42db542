"""Counted work per call: Spark jobs run by flatten discovery, by the
batch export and by an export micro-batch, pinned as equalities so a
regression reads as a failure, not as noise.

A lower count updates the pin (and is recorded in CHANGES.md); a higher
count fails the test.
"""

from __future__ import annotations

import contextlib
import os
import re

import pytest
from pyspark.sql import Row

from perfbench import gen_docs

from etl_pipeline_for_elasticsearch_json_document_spark import jobs
from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import count_min_cells
from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten_plan
from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog
from etl_pipeline_for_elasticsearch_json_document_spark.sources.keyset import Cursor, Page
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.export_job import (
    _export_batch_processor,
)
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


def _docs(spark, tmp_path, name: str):
    """10 gen_docs documents read from a file; schema inference stays
    outside any job group."""
    path = tmp_path / f"{name}.json"
    path.write_bytes(gen_docs.dumps_lines(gen_docs.make_documents(1, 10, max_lines=1)))
    return spark.read.json(str(path))


def _count_writes(monkeypatch) -> list:
    """Record the path of every ``jobs.write_tsv`` call."""
    writes = []
    real = jobs.write_tsv

    def counting_write(*args, **kwargs):
        writes.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(jobs, "write_tsv", counting_write)
    return writes


def _export_jobs(spark, tmp_path, batch_size: int, name: str) -> int:
    src = _docs(spark, tmp_path, name)
    with job_group(spark, name) as jobs_run:
        n = jobs.fetch_and_export_documents(
            spark, src, os.fspath(tmp_path / f"{name}-out"), os.fspath(tmp_path / f"{name}-audit"), batch_size=batch_size
        )
    assert n == 10
    return jobs_run[0]


def test_export_job_count(spark, tmp_path, monkeypatch):
    """10 documents in 2 pages: the key collect (shuffle map + result),
    1 flatten discovery job and the one write (shuffle map + result).
    The audit row is written from the driver. The count does not depend
    on the page count, and the TSV write runs once per export."""
    writes = _count_writes(monkeypatch)
    assert _export_jobs(spark, tmp_path, 5, "two-pages") == 5
    assert _export_jobs(spark, tmp_path, 2, "five-pages") == 5
    assert len(writes) == 2


@pytest.mark.parametrize("exactly_once, per_batch", [(False, 2), (True, 4)])
def test_export_micro_batch_job_count(spark, tmp_path, monkeypatch, exactly_once, per_batch):
    """A file-fed export micro-batch runs the batch export's back: 1
    flatten discovery job and the one write; no emptiness check and no
    max-id pre-pass (the write's Observation gives both). With
    ``exactly_once``, every batch after the first also runs the audit
    ledger's 2 jobs. Each micro-batch makes one TSV write."""
    writes = _count_writes(monkeypatch)
    batch = _docs(spark, tmp_path, "micro-batch")
    audit = AuditLog(spark, os.fspath(tmp_path / "audit"))
    proc = _export_batch_processor(
        os.fspath(tmp_path / "out"), audit, "lin", "claimRequestId", False, exactly_once
    )
    counts = []
    for batch_id in range(3):
        with job_group(spark, f"micro-batch-{exactly_once}-{batch_id}") as jobs_run:
            proc(batch, batch_id)
        counts.append(jobs_run[0])
    assert counts[1:] == [per_batch, per_batch]
    assert len(writes) == 3
    assert [r["record_count_loaded"] for r in audit.read().collect()] == [10] * 3


def _label_plans(spark, n_pages: int) -> tuple[int, int]:
    """(analysed plan string length, optimised label expression node
    count) of the page labels for ``n_pages`` one-row pages."""
    sort_cols = ["auditProcessedDateTimeUtc", "claimRequestId"]
    df = spark.createDataFrame([], "auditProcessedDateTimeUtc string, claimRequestId long")
    pages = []
    for i in range(n_pages):
        key = (f"2025-06-01T11:{i // 60:02d}:{i % 60:02d}Z", i)
        pages.append(Page([Row(**dict(zip(sort_cols, key)))], Cursor(key), n_pages))
    qe = df.withColumn("_page", jobs._page_labels(pages, sort_cols, "claimRequestId"))._jdf.queryExecution()
    analysed = re.sub(r"#\d+L?", "", qe.analyzed().toString())  # expression ids vary by session
    return len(analysed), qe.optimizedPlan().expressions().last().treeString().count("\n")


def test_page_label_plan_size(spark):
    """The page labels hold the cursors and names as two arrays, which
    the optimiser folds into two literals: the label expression is the
    same 18 nodes at 2 and at 200 pages. The analysed plan string prints
    at most ``maxToStringFields`` elements of each array, so it stays
    under 3.6k characters at 200 pages; one CASE branch per page made it
    56.7k (0.46k at 2 pages)."""
    (short, nodes_2), (long, nodes_200) = _label_plans(spark, 2), _label_plans(spark, 200)
    assert nodes_2 == nodes_200 == 18
    assert short < 700 and long < 3600, (short, long)


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
