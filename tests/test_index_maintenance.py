"""Versioned fingerprint index: per-batch classification precedence,
version advance on each update, crash-dangling versions skipped, and the
classification agreeing with q158's derive-from-scratch semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
    ingest_with_index,
    read_fingerprint_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_classification_and_versioning(spark, tmp_path):
    idx_path = str(tmp_path / "fpidx")
    b1 = _docs(spark, [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")])
    r1 = {r["doc_id"]: r["status"] for r in ingest_with_index(spark, idx_path, b1).collect()}
    # empty index: first occurrence ingests, repeat within batch is flagged
    assert r1 == {
        1: "ingested",
        2: "ingested",
        3: "duplicate_batch",
        4: "ingested",
    }
    assert read_fingerprint_index(spark, idx_path).count() == 3

    # batch 2: corpus match outranks within-batch; new content ingests
    b2 = _docs(spark, [(10, "alpha"), (11, "delta"), (12, "delta"), (13, "beta")])
    r2 = {r["doc_id"]: r["status"] for r in ingest_with_index(spark, idx_path, b2).collect()}
    assert r2 == {
        10: "duplicate_corpus",
        11: "ingested",
        12: "duplicate_batch",
        13: "duplicate_corpus",
    }
    idx = read_fingerprint_index(spark, idx_path)
    assert idx.count() == 4  # alpha, beta, gamma, delta
    # the index remembers the FIRST doc to carry each fingerprint
    first = {r["fp"]: r["first_doc_id"] for r in idx.collect()}
    alpha_fp = b1.select(F.md5("text")).filter(F.col("doc_id") == 1).first()[0]
    assert first[alpha_fp] == 1
    # two committed versions on disk
    assert sorted(
        d for d in os.listdir(idx_path) if d.startswith("v=")
    ) == ["v=0", "v=1"]


def test_uncommitted_version_is_invisible(spark, tmp_path):
    idx_path = str(tmp_path / "fpidx2")
    ingest_with_index(spark, idx_path, _docs(spark, [(1, "a"), (2, "b")]))
    # simulate a crashed update: dir exists, no _COMMITTED marker
    dangling = os.path.join(idx_path, "v=1")
    os.makedirs(dangling)
    assert read_fingerprint_index(spark, idx_path).count() == 2  # reads v=0
    # r10 single-writer claim: a default (non-ledgered) update REFUSES the
    # torn dir — on the filesystem it is indistinguishable from a live
    # concurrent committer — instead of silently overwriting it
    import pytest

    with pytest.raises(FileExistsError, match="without _COMMITTED"):
        ingest_with_index(spark, idx_path, _docs(spark, [(9, "c")]))
    # cleared after confirming no writer is live, the update proceeds
    os.rmdir(dangling)
    r = {
        x["doc_id"]: x["status"]
        for x in ingest_with_index(spark, idx_path, _docs(spark, [(9, "c")])).collect()
    }
    assert r == {9: "ingested"}
    assert os.path.exists(os.path.join(dangling, "_COMMITTED"))
    assert read_fingerprint_index(spark, idx_path).count() == 3


def test_delta_commit_is_batch_sized(spark, tmp_path):
    """The r9 store property: a version commit writes the BATCH's new
    fingerprints only — one new doc against a 50-doc index commits a
    1-row delta (through r8 it rewrote all 51)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
        INDEX_SCHEMA,
    )

    idx_path = str(tmp_path / "fpidx_delta")
    big = _docs(spark, [(i, f"text number {i}") for i in range(50)])
    ingest_with_index(spark, idx_path, big)
    ingest_with_index(spark, idx_path, _docs(spark, [(999, "a new arrival")]))
    # read v=1's directories directly: exactly the 1 new fingerprint
    paths = [
        os.path.join(idx_path, "v=1", d)
        for d in os.listdir(os.path.join(idx_path, "v=1"))
        if d.startswith("p=")
    ]
    assert spark.read.schema(INDEX_SCHEMA).parquet(*paths).count() == 1
    assert read_fingerprint_index(spark, idx_path).count() == 51


def test_compact_and_prune_fingerprint_versions(spark, tmp_path):
    """Delta-store GC discipline: nothing is deletable until a compact
    creates a snapshot floor; after it, pre-snapshot versions go, the
    live index still resolves the full history, and classification
    still sees fingerprints whose delta was GC'd."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
        compact_fingerprint_index,
        prune_fingerprint_versions,
    )

    idx_path = str(tmp_path / "fpidx3")
    for i, t in enumerate(["a", "b", "c", "d"]):
        ingest_with_index(spark, idx_path, _docs(spark, [(i, t)]))
    assert sorted(d for d in os.listdir(idx_path) if d.startswith("v=")) == [
        "v=0", "v=1", "v=2", "v=3",
    ]
    # no snapshot yet: every retained version resolves through v=0
    assert prune_fingerprint_versions(idx_path, keep_last=2) == []
    assert compact_fingerprint_index(spark, idx_path) == 4  # snapshot
    ingest_with_index(spark, idx_path, _docs(spark, [(8, "e")]))  # v=5 delta
    removed = prune_fingerprint_versions(idx_path, keep_last=2)
    assert removed == [0, 1, 2, 3]
    assert sorted(d for d in os.listdir(idx_path) if d.startswith("v=")) == [
        "v=4", "v=5",
    ]
    # the live index is intact and updates keep working after GC
    assert read_fingerprint_index(spark, idx_path).count() == 5
    r = {
        x["doc_id"]: x["status"]
        for x in ingest_with_index(spark, idx_path, _docs(spark, [(9, "a"), (10, "f")])).collect()
    }
    assert r == {9: "duplicate_corpus", 10: "ingested"}


def test_null_text_docs_surface_as_no_text(spark, tmp_path):
    """r10 review: a NULL-text doc produces a NULL fingerprint — it must
    neither enter the index nor VANISH from the classification (the
    plain fp join drops NULL keys). It surfaces as 'no_text'."""
    idx_path = str(tmp_path / "fpidx")
    b = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "alpha")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["status"] for r in ingest_with_index(spark, idx_path, b).collect()}
    assert got == {1: "ingested", 2: "no_text", 3: "duplicate_batch"}
    # the null fp never entered the index: replaying doc 2 with real text
    # classifies fresh, and the index holds exactly one fingerprint
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
        read_fingerprint_index,
    )

    assert read_fingerprint_index(spark, idx_path).count() == 1
