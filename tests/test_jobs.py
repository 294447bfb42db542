"""Batch export job (reference E1) + keyset pagination + A23 column tools."""

from __future__ import annotations

import dataclasses
import datetime
import glob
import json
import os
import random
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.functions.columns import (
    columns_containing,
    select_columns_containing,
    transpose_preview,
)
from etl_pipeline_for_elasticsearch_json_document_spark.jobs import fetch_and_export_documents
from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AUDIT_SCHEMA, AuditLog
from etl_pipeline_for_elasticsearch_json_document_spark.sources.keyset import Cursor, after_predicate, paginate
from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="etl_jobs_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_keyset_pagination_covers_everything_once(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    seen = []
    pages = list(paginate(events, ["ts", "event_id"], 300))
    for page in pages:
        ids = [r["event_id"] for r in page.rows]
        seen.extend(ids)
        assert len(ids) <= 300
        assert page.total == events.count()
    assert len(seen) == events.count()
    assert len(set(seen)) == len(seen)  # no page overlap


def test_keyset_resume_from_cursor(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    pages = paginate(events, ["ts", "event_id"], 400)
    c1 = next(pages).cursor
    resumed = list(paginate(events, ["ts", "event_id"], 400, start=c1))
    n_after = sum(len(p.rows) for p in resumed)
    assert n_after == events.count() - 400
    assert resumed[0].total == n_after


def test_keyset_skips_nan_ties_like_the_predicate(spark):
    """A page ending inside a run of NaN sort values: Spark compares NaN
    equal to NaN, so the rest of the run is tied with the cursor and the
    next page starts where ``after_predicate`` says it does."""
    nan = float("nan")
    df = spark.createDataFrame([(1, nan, 1), (1, nan, 2), (1, nan, 3), (2, 0.5, 4)], "g int, x double, id long")
    pages = list(paginate(df, ["g", "x"], 2, key_cols=("id",)))
    assert [len(p.rows) for p in pages] == [2, 1] and pages[0].total == 4
    after = df.filter(after_predicate(["g", "x"], pages[0].cursor)).select("id").collect()
    assert [r["id"] for r in pages[1].rows] == [r["id"] for r in after] == [4]


def test_batch_export_job(spark, tmpdir):
    docs = [
        {
            "claimRequestId": i,
            "auditProcessedDateTimeUtc": f"2025-06-01T11:30:{i:02d}Z",
            "lines": [{"lineNumber": 1, "charge": float(i)}],
        }
        for i in range(25)
    ]
    src = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    out = os.path.join(tmpdir, "out")
    exported = fetch_and_export_documents(
        spark,
        src,
        out,
        audit_path=os.path.join(tmpdir, "audit"),
        batch_size=10,
    )
    assert exported == 25
    batches = glob.glob(os.path.join(out, "rta_claim_headers_*"))
    assert len(batches) == 3  # 10 + 10 + 5
    total = sum(
        spark.read.option("sep", "\t").option("header", True).csv(b).count() for b in batches
    )
    assert total == 25
    audit = AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect()
    assert [r["job_status"] for r in audit] == ["SUCCESS"]
    assert audit[0]["record_count_loaded"] == 25


def test_batch_export_failure_audit(spark, tmpdir):
    src = load_table(spark, "/root/testdata/sf0.001", "events")
    with pytest.raises(Exception):
        fetch_and_export_documents(
            spark,
            src,
            os.path.join(tmpdir, "out"),
            audit_path=os.path.join(tmpdir, "audit"),
            sort_cols=("no_such_column", "event_id"),  # forces failure
        )
    audit = AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect()
    assert [r["job_status"] for r in audit] == ["FAILED"]
    assert audit[0]["record_count_loaded"] is None  # omitted on failure (A20)
    assert "no_such_column" in audit[0]["error_desc"]


def _source(spark, docs, partitions=4):
    """``docs`` in shuffled order, spread over ``partitions`` partitions."""
    docs = list(docs)
    random.Random(7).shuffle(docs)
    rdd = spark.sparkContext.parallelize([json.dumps(d) for d in docs], partitions)
    src = spark.read.json(rdd)
    assert src.rdd.getNumPartitions() >= partitions
    return src


def _doc(i, ts=True):
    d = {"claimRequestId": i, "lines": [{"lineNumber": 1, "charge": float(i)}]}
    if ts:
        d["auditProcessedDateTimeUtc"] = f"2025-06-01T11:30:{i:02d}Z"
    return d


def _page_dirs(out):
    """{page dir: rows as dicts}, checking that each page dir holds one
    header-bearing part file plus ``_SUCCESS`` and nothing else is left."""
    pages = {}
    for name in sorted(os.listdir(out)):
        assert name.startswith("rta_claim_headers_") and name.endswith(".tsv"), name
        files = sorted(f for f in os.listdir(os.path.join(out, name)) if not f.startswith("."))
        assert len(files) == 2 and files[0] == "_SUCCESS" and files[1].startswith("part-"), files
        with open(os.path.join(out, name, files[1])) as f:
            header, *lines = f.read().splitlines()
        assert "ClaimRequestId" in header.split("\t")
        pages[name] = [dict(zip(header.split("\t"), line.split("\t"))) for line in lines]
    return pages


def _key(row):
    ts = row["AuditProcessedDateTimeUtc"]
    return (ts != "", ts, int(row["ClaimRequestId"]))  # nulls first, as orderBy


def _audit(spark, tmpdir):
    return AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect()


def test_export_writes_one_sorted_part_file_per_page(spark, tmpdir):
    out = os.path.join(tmpdir, "out")
    n = fetch_and_export_documents(
        spark, _source(spark, [_doc(i) for i in range(23)]), out, os.path.join(tmpdir, "audit"), batch_size=5
    )
    assert n == 23
    pages = sorted(_page_dirs(out).items(), key=lambda kv: _key(kv[1][0]))
    assert [len(rows) for _, rows in pages] == [5, 5, 5, 5, 3]
    flat = [_key(r) for _, rows in pages for r in rows]
    assert flat == sorted(flat) and len(set(flat)) == 23  # in order, each once
    for name, rows in pages:  # A17: named by the page's last claim id
        assert name.startswith(f"rta_claim_headers_{max(int(r['ClaimRequestId']) for r in rows)}_")
    assert [(r["job_status"], r["record_count_loaded"]) for r in _audit(spark, tmpdir)] == [("SUCCESS", 23)]


def test_export_pages_null_sort_values_first(spark, tmpdir):
    """A null sort value sorts first; the cursor after it must not compare
    NULL and lose the rows behind it."""
    docs = [_doc(i, ts=False) for i in range(3)] + [_doc(i) for i in range(3, 6)]
    out = os.path.join(tmpdir, "out")
    assert fetch_and_export_documents(spark, _source(spark, docs), out, os.path.join(tmpdir, "audit"), batch_size=2) == 6
    pages = _page_dirs(out)
    assert len(pages) == 3 and all(len(rows) <= 2 for rows in pages.values())
    flat = sorted(_key(r) for rows in pages.values() for r in rows)
    assert [k[2] for k in flat] == list(range(6))
    assert [(r["job_status"], r["record_count_loaded"]) for r in _audit(spark, tmpdir)] == [("SUCCESS", 6)]


def test_export_keeps_rows_tied_at_a_page_boundary(spark, tmpdir):
    """Rows tied on every sort column at a page's end join that page."""
    docs = [_doc(1), _doc(2), _doc(2), _doc(3)]
    out = os.path.join(tmpdir, "out")
    assert fetch_and_export_documents(spark, _source(spark, docs), out, os.path.join(tmpdir, "audit"), batch_size=2) == 4
    pages = _page_dirs(out)
    assert sorted(int(r["ClaimRequestId"]) for rows in pages.values() for r in rows) == [1, 2, 2, 3]
    assert sorted(len(rows) for rows in pages.values()) == [1, 3]
    assert [(r["job_status"], r["record_count_loaded"]) for r in _audit(spark, tmpdir)] == [("SUCCESS", 4)]


def test_export_refuses_a_write_that_misses_the_count(spark, tmpdir, monkeypatch):
    from etl_pipeline_for_elasticsearch_json_document_spark import jobs

    real = jobs.paginate

    def overcounted(*args, **kwargs):
        for page in real(*args, **kwargs):
            yield dataclasses.replace(page, total=page.total + 1)

    monkeypatch.setattr(jobs, "paginate", overcounted)
    out = os.path.join(tmpdir, "out")
    with pytest.raises(RuntimeError, match="wrote 10 rows but counted 11"):
        fetch_and_export_documents(
            spark, _source(spark, [_doc(i) for i in range(10)]), out, os.path.join(tmpdir, "audit"), batch_size=5
        )
    assert os.listdir(out) == []
    assert [r["job_status"] for r in _audit(spark, tmpdir)] == ["FAILED"]


def test_second_export_keeps_the_first_runs_pages(spark, tmpdir):
    out = os.path.join(tmpdir, "out")
    audit = os.path.join(tmpdir, "audit")
    fetch_and_export_documents(spark, _source(spark, [_doc(i) for i in range(10)]), out, audit, batch_size=5)
    fetch_and_export_documents(spark, _source(spark, [_doc(i) for i in range(10, 20)]), out, audit, batch_size=5)
    pages = _page_dirs(out)
    assert len(pages) == 4
    assert sorted(int(r["ClaimRequestId"]) for rows in pages.values() for r in rows) == list(range(20))


def test_same_named_page_is_replaced(spark, tmpdir, monkeypatch):
    from etl_pipeline_for_elasticsearch_json_document_spark import jobs
    from etl_pipeline_for_elasticsearch_json_document_spark.sinks import tsv

    fixed = datetime.datetime(2025, 6, 1, 12, 0, 0)
    monkeypatch.setattr(jobs, "batch_tsv_path", lambda d, last_id: tsv.batch_tsv_path(d, last_id, now=fixed))
    out = os.path.join(tmpdir, "out")
    audit = os.path.join(tmpdir, "audit")
    docs = [_doc(i) for i in range(10)]
    fetch_and_export_documents(spark, _source(spark, docs), out, audit, batch_size=5)
    first = sorted(os.listdir(out))
    with open(os.path.join(out, first[0], "stale.csv"), "w") as f:
        f.write("x\n")
    fetch_and_export_documents(spark, _source(spark, docs), out, audit, batch_size=5)
    assert sorted(os.listdir(out)) == first
    pages = _page_dirs(out)  # one part file each: the stale file is gone
    assert sorted(int(r["ClaimRequestId"]) for rows in pages.values() for r in rows) == list(range(10))


def test_empty_source_exports_nothing(spark, tmpdir):
    src = spark.createDataFrame([], "claimRequestId long, auditProcessedDateTimeUtc string, v string")
    out = os.path.join(tmpdir, "out")
    assert fetch_and_export_documents(spark, src, out, os.path.join(tmpdir, "audit"), batch_size=5) == 0
    assert not os.path.exists(out)
    assert [(r["job_status"], r["record_count_loaded"]) for r in _audit(spark, tmpdir)] == [("SUCCESS", 0)]


def test_failed_write_leaves_no_pages(spark, tmpdir, monkeypatch):
    from etl_pipeline_for_elasticsearch_json_document_spark import jobs

    real = jobs.write_tsv

    def write_then_fail(*args, **kwargs):
        real(*args, **kwargs)
        raise OSError("disk full")

    monkeypatch.setattr(jobs, "write_tsv", write_then_fail)
    out = os.path.join(tmpdir, "out")
    with pytest.raises(OSError, match="disk full"):
        fetch_and_export_documents(
            spark, _source(spark, [_doc(i) for i in range(10)]), out, os.path.join(tmpdir, "audit"), batch_size=5
        )
    assert os.listdir(out) == []
    audit = _audit(spark, tmpdir)
    assert [r["job_status"] for r in audit] == ["FAILED"] and "disk full" in audit[0]["error_desc"]


def test_column_search_a23(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, "x")], "Lines_0_BasePrice double, Lines_0_FinalPrice double, Name string"
    )
    assert columns_containing(df, "Price") == ["Lines_0_BasePrice", "Lines_0_FinalPrice"]
    assert select_columns_containing(df, "Price").columns == [
        "Lines_0_BasePrice",
        "Lines_0_FinalPrice",
    ]
    t = transpose_preview(df, n_cols=2)
    assert list(t.index) == ["Lines_0_BasePrice", "Lines_0_FinalPrice"]


def test_es_source_stub_gating(spark, golden_doc):
    from etl_pipeline_for_elasticsearch_json_document_spark.sources import elasticsearch as es

    assert not es.HAS_ES_CLIENT  # not installed here
    with pytest.raises(NotImplementedError, match="not installed"):
        next(es.scan_with_client(spark, "idx", {"query": {}}))
    # tier 1 works everywhere: the golden envelope
    df = es.read_search_response_json(spark, golden_doc)
    assert df.count() == 1 and "claimRequestId" in df.columns


@pytest.mark.slow
def test_cli_main_exports_golden_doc(tmp_path, capsys, golden_doc):
    """`python -m etl_pipeline_for_elasticsearch_json_document_spark IN OUT`
    — the reference's script entry point (E1): envelope in, per-batch TSV +
    audit out, as wide as the driver-local flatten of the same document."""
    import glob

    from etl_pipeline_for_elasticsearch_json_document_spark.__main__ import main
    from etl_pipeline_for_elasticsearch_json_document_spark.local import json_to_tsv_in_memory

    out = str(tmp_path / "cli_out")
    rc = main([golden_doc, out, "--bug-compat"])
    assert rc == 0
    assert "exported 1 documents" in capsys.readouterr().out
    tsvs = glob.glob(f"{out}/rta_claim_headers_*/*.csv")
    assert len(tsvs) == 1
    import pandas as pd

    df = pd.read_csv(tsvs[0], sep="\t")
    with open(golden_doc) as f:
        width = json_to_tsv_in_memory(json.load(f)).shape[1]
    assert df.shape == (1, width)


def test_cli_main_reads_jsonl_fully(tmp_path, capsys):
    """JSONL input must export EVERY record — multiLine-first reading
    silently parsed only the first object of a JSONL file."""
    import json as _json

    from etl_pipeline_for_elasticsearch_json_document_spark.__main__ import main

    src = tmp_path / "docs.jsonl"
    with open(src, "w") as f:
        for i in range(5):
            f.write(_json.dumps({"claimRequestId": i, "v": f"x{i}"}) + "\n")
    rc = main([str(src), str(tmp_path / "out")])
    assert rc == 0
    assert "exported 5 documents" in capsys.readouterr().out


@pytest.mark.slow
def test_audit_jdbc_tier_round_trip(spark, tmpdir):
    """The reference's actual audit target is an RDBMS (log_to_sql_db,
    ElasticSearch ETL.py:271-299): the JDBC tier appends SUCCESS and
    FAILED rows through spark.write.jdbc and reads them back — exercised
    for real against Spark's bundled embedded-Derby driver, no installs."""
    import datetime

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import (
        DERBY_DRIVER,
        AuditLog,
    )

    url = f"jdbc:derby:{tmpdir}/audit_db;create=true"
    audit = AuditLog(spark, jdbc_url=url, jdbc_driver=DERBY_DRIVER)
    t0 = datetime.datetime.now(datetime.timezone.utc)
    audit.success(t0, batch_id="b1", record_count=42)
    audit.failure(t0, batch_id="b2", error=RuntimeError("boom"))
    rows = {r["batch_id"]: r for r in audit.read().collect()}
    assert rows["b1"]["job_status"] == "SUCCESS"
    assert rows["b1"]["record_count_loaded"] == 42
    # failure rows omit the count, like the reference's except path
    assert rows["b2"]["job_status"] == "FAILED"
    assert rows["b2"]["record_count_loaded"] is None
    assert "boom" in rows["b2"]["error_desc"]


@pytest.fixture()
def new_york_time(monkeypatch):
    """The driver's local time zone is not UTC, so a naive datetime taken
    as UTC would land hours away from where ``createDataFrame`` puts it."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_audit_reads_spark_and_driver_written_rows_alike(spark, tmpdir, new_york_time):
    """An audit directory holding a row the Spark writer wrote and rows
    the driver wrote reads back as equal values: aware and naive
    timestamps, null QA columns and FAILED rows included. No temp file
    is left behind."""
    path = os.path.join(tmpdir, "audit")
    audit = AuditLog(spark, path)
    aware = datetime.datetime(2025, 6, 1, 11, 30, 4, 123456, tzinfo=datetime.timezone.utc)
    naive = datetime.datetime(2025, 6, 1, 11, 30, 5, 654321)
    calls = [
        dict(start_ts=aware, end_ts=naive, job_status="SUCCESS", batch_id="b", record_count_loaded=3),
        dict(start_ts=naive, end_ts=aware, job_status="FAILED", batch_id="b", error_desc="boom",
             widened=1, kind_changed=0, volume_surged=1),
    ]
    fixed = dict(job_name=audit.job_name, job_id=audit.job_id, executable_cmd=audit.executable_cmd,
                 table_name=audit.table_name)
    names = [field.split()[0] for field in AUDIT_SCHEMA.split(",")]
    rows = [tuple({**fixed, **call}.get(n) for n in names) for call in calls]
    spark.createDataFrame(rows[:1], AUDIT_SCHEMA).write.mode("append").parquet(path)
    for call in calls:
        audit.log(**call)

    def read_back(v):  # a collected timestamp is naive, in local time
        return v.astimezone().replace(tzinfo=None) if isinstance(v, datetime.datetime) and v.tzinfo else v

    want = [tuple(map(read_back, row)) for row in [rows[0], *rows]]
    assert sorted(map(tuple, audit.read().collect()), key=repr) == sorted(want, key=repr)
    assert not [f for f in os.listdir(path) if f.startswith("_") and f != "_SUCCESS"]


def test_audit_path_may_be_a_file_uri(spark, tmpdir):
    audit = AuditLog(spark, "file://" + os.path.join(tmpdir, "audit"))
    audit.success(datetime.datetime.now(datetime.timezone.utc), batch_id="b1", record_count=7)
    assert [(r["batch_id"], r["record_count_loaded"]) for r in audit.read().collect()] == [("b1", 7)]
    files = [f for f in os.listdir(os.path.join(tmpdir, "audit")) if not f.startswith(".")]
    assert len(files) == 1 and files[0].startswith("part-") and files[0].endswith(".parquet"), files


def test_audit_requires_exactly_one_storage_tier(spark):
    import pytest as _pytest

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    with _pytest.raises(ValueError, match="exactly one"):
        AuditLog(spark)
    with _pytest.raises(ValueError, match="exactly one"):
        AuditLog(spark, path="/tmp/x", jdbc_url="jdbc:derby:y")
