"""Streaming fingerprint-index ingest: per-micro-batch classification
against the pre-batch index version, one version advance per batch, and
exactly-once semantics under foreachBatch replay (marker-first ledger)."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
    read_fingerprint_index,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.index_ingest import (
    _index_batch_processor,
    run_index_ingest_stream,
)

SCHEMA = "doc_id long, text string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").json(path)


@pytest.mark.slow
def test_stream_classifies_and_advances_index(spark, tmp_path):
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # one file per micro-batch (maxFilesPerTrigger=1) => deterministic
    # batch boundaries; file names order the batches
    _write_batch(spark, src, [(1, "alpha"), (2, "beta"), (3, "alpha")])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = run_index_ingest_stream(stream, idx, out, ckpt)
    assert q.awaitTermination(600), "stream drain timed out"

    res = spark.read.parquet(out)
    r1 = {r["doc_id"]: r["status"] for r in res.collect()}
    assert r1 == {1: "ingested", 2: "ingested", 3: "duplicate_batch"}
    assert read_fingerprint_index(spark, idx).count() == 2

    # second run over NEW data: corpus matches outrank within-batch dups
    _write_batch(spark, src, [(10, "alpha"), (11, "delta"), (12, "delta")])
    q = run_index_ingest_stream(
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src),
        idx,
        out,
        ckpt,
    )
    assert q.awaitTermination(600), "stream drain timed out"
    res = spark.read.parquet(out)
    r2 = {r["doc_id"]: r["status"] for r in res.collect()}
    assert r2 == {
        1: "ingested",
        2: "ingested",
        3: "duplicate_batch",
        10: "duplicate_corpus",
        11: "ingested",
        12: "duplicate_batch",
    }
    idx_df = read_fingerprint_index(spark, idx)
    assert idx_df.count() == 3  # alpha, beta, delta
    # alpha is remembered under its FIRST ever doc id
    firsts = {r["fp"]: r["first_doc_id"] for r in idx_df.collect()}
    alpha_fp = spark.createDataFrame([(1, "alpha")], SCHEMA).select(
        F.md5("text")
    ).first()[0]
    assert firsts[alpha_fp] == 1


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Replaying the SAME (lineage, batch) after the index advanced must
    reproduce the original classification byte-for-byte and must not
    advance the index again — the marker pins the base version."""
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    proc = _index_batch_processor(idx, out, ckpt_id="lineageA")

    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], SCHEMA)
    proc(b0, 0)
    first = sorted(
        (r["doc_id"], r["status"])
        for r in spark.read.parquet(os.path.join(out, "batch=lineageA-0")).collect()
    )
    assert first == [(1, "ingested"), (2, "ingested")]
    assert read_fingerprint_index(spark, idx).count() == 2

    # crash-replay of batch 0: without the ledger, both docs would now be
    # flagged duplicate_corpus against the index THEY populated
    proc(b0, 0)
    replay = sorted(
        (r["doc_id"], r["status"])
        for r in spark.read.parquet(os.path.join(out, "batch=lineageA-0")).collect()
    )
    assert replay == first
    versions = sorted(
        d for d in os.listdir(idx) if d.startswith("v=")
    )
    assert versions == ["v=0"]  # no double-advance

    # a DIFFERENT lineage's batch 0 is new data, not a replay
    proc2 = _index_batch_processor(idx, out, ckpt_id="lineageB")
    proc2(spark.createDataFrame([(5, "alpha"), (6, "gamma")], SCHEMA), 0)
    r = {
        x["doc_id"]: x["status"]
        for x in spark.read.parquet(os.path.join(out, "batch=lineageB-0")).collect()
    }
    assert r == {5: "duplicate_corpus", 6: "ingested"}
    assert read_fingerprint_index(spark, idx).count() == 3


def test_crashed_batch_survives_interleaved_compact(spark, tmp_path):
    """ADVICE r9, proven through the REAL client: a batch pins its base
    version in the ledger, crashes before committing its delta, and a
    compact() then claims that very version with its snapshot. The naive
    'skip if committed' replay would silently drop the batch's
    fingerprints from the index while still writing its classification;
    commit_pinned_delta re-pins past the tail and commits — the replayed
    batch's rows ARE in the index, and a second replay adds nothing."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
        compact_fingerprint_index,
        ingest_with_index,
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    ingest_with_index(spark, idx, spark.createDataFrame([(1, "alpha")], SCHEMA))

    # simulate the crash: the stream pinned base_v=0 for batch 7 but died
    # before its delta commit
    ledger = os.path.join(idx, "_ledger")
    os.makedirs(ledger)
    with open(os.path.join(ledger, "lineageA-7"), "w") as f:
        f.write("0")
    # maintenance wins version 1 with its snapshot
    assert compact_fingerprint_index(spark, idx) == 1

    proc = _index_batch_processor(idx, out, ckpt_id="lineageA")
    b7 = spark.createDataFrame([(30, "omega"), (31, "alpha")], SCHEMA)
    proc(b7, 7)
    # classification is against base_v=0 (the marker), so 31 is a corpus dup
    r = {
        x["doc_id"]: x["status"]
        for x in spark.read.parquet(os.path.join(out, "batch=lineageA-7")).collect()
    }
    assert r == {30: "ingested", 31: "duplicate_corpus"}
    # the batch's new fingerprint is IN the index — committed past the
    # snapshot (v=2, a delta), not silently dropped
    idx_now = read_fingerprint_index(spark, idx)
    assert idx_now.count() == 2
    versions = sorted(d for d in os.listdir(idx) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]
    assert not os.path.exists(os.path.join(idx, "v=2", "_SNAPSHOT"))

    # second replay of the same batch: same output, no new version
    proc(b7, 7)
    assert sorted(
        d for d in os.listdir(idx) if d.startswith("v=")
    ) == ["v=0", "v=1", "v=2"]
    assert read_fingerprint_index(spark, idx).count() == 2


@pytest.mark.slow
def test_es_tail_feeds_index_ingest(spark, tmp_path):
    """The full live-dedup story: tail the (fake) ES cluster as a stream
    and classify every arriving document against the persistent
    fingerprint index — duplicates across separate stream RUNS are
    caught because the index, not the stream, carries the memory."""
    from pyspark.sql import functions as F

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks import (
        elasticsearch as es_sink,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_stream import (
        EsTailDataSource,
    )
    from tests.fake_es import start_fake_es

    server, base_url = start_fake_es()
    try:
        spark.dataSource.register(EsTailDataSource)
        index_name = "live_docs"

        def _bulk(lo, hi, payload_of):
            docs = spark.createDataFrame(
                [(i, payload_of(i)) for i in range(lo, hi)],
                "doc_id long, payload string",
            )
            out = str(tmp_path / f"bulk_{lo}_{hi}")
            es_sink.write_bulk_files(docs.coalesce(1), out, index_name, id_col="doc_id")
            es_sink.replay_bulk_files(out, base_url)

        def _drain():
            stream = (
                spark.readStream.format("es_tail")
                .option("url", base_url)
                .option("index", index_name)
                .option("sort", "doc_id")
                .option("page_size", "16")
                .load()
                .select(
                    F.col("_id").cast("long").alias("doc_id"),
                    F.get_json_object("source_json", "$.payload").alias("payload"),
                )
            )
            q = run_index_ingest_stream(
                stream,
                str(tmp_path / "fpidx"),
                str(tmp_path / "cls"),
                str(tmp_path / "ckpt_es"),
                id_col="doc_id",
                text_col="payload",
            )
            assert q.awaitTermination(600), "stream drain timed out"

        # run 1: ids 0..9, payload repeats every 4 => 4 distinct contents
        _bulk(0, 10, lambda i: f"content-{i % 4}")
        _drain()
        res = spark.read.parquet(str(tmp_path / "cls"))
        by_status = {
            r["status"]: r["n"]
            for r in res.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        assert by_status == {"ingested": 4, "duplicate_batch": 6}
        assert read_fingerprint_index(spark, str(tmp_path / "fpidx")).count() == 4

        # run 2 (same checkpoint): new ids, 2 contents already in the
        # corpus + 2 genuinely new => the index remembers across runs
        _bulk(100, 104, lambda i: f"content-{i % 2}" if i < 102 else f"new-{i}")
        _drain()
        res2 = spark.read.parquet(str(tmp_path / "cls"))
        new_rows = {
            r["doc_id"]: r["status"]
            for r in res2.filter(F.col("doc_id") >= 100).collect()
        }
        assert new_rows == {
            100: "duplicate_corpus",
            101: "duplicate_corpus",
            102: "ingested",
            103: "ingested",
        }
        assert read_fingerprint_index(spark, str(tmp_path / "fpidx")).count() == 6
    finally:
        server.shutdown()
        server.server_close()


def test_non_local_index_path_is_refused(spark, tmp_path, monkeypatch):
    """An s3a:// store path used to list as an empty store, and the batch
    then committed into a local ``s3a:/`` directory; now it raises before
    any file is written."""
    monkeypatch.chdir(tmp_path)
    proc = _index_batch_processor("s3a://bucket/idx", str(tmp_path / "out"), "lin")
    with pytest.raises(ValueError, match="not a local path"):
        proc(spark.createDataFrame([(1, "alpha")], SCHEMA), 0)
    assert not os.path.exists(tmp_path / "s3a:")
