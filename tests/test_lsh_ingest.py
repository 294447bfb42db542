"""Streaming near-dup bucket index (streaming/lsh_ingest.py): stream-vs-
batch component equivalence, per-doc classification, replay idempotence,
and anchor behavior when smaller ids arrive late."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import dedup, graph
from etl_pipeline_for_elasticsearch_json_document_spark.operators.delta_store import (
    committed_versions as _committed_versions,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.lsh_ingest import (
    _lsh_batch_processor,
    run_lsh_ingest_stream,
)

SCHEMA = "doc_id long, text string"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _clusters(spark, edges, docs):
    return {
        (r["doc_id"], r["cluster_id"])
        for r in graph.dedup_clusters(edges, docs, id_col="doc_id")
        .select("doc_id", "cluster_id")
        .collect()
    }


@pytest.mark.slow
def test_streamed_edges_close_to_batch_clusters(spark, sf_dir, tmp_path):
    """Two micro-batches split by id PARITY (so the second batch holds
    ids smaller than already-indexed anchors — the hard case): the union
    of streamed star edges closes to EXACTLY the clusters the batch
    operator finds on the full corpus."""
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "lineageA")
    proc(docs.filter(F.col("doc_id") % 2 == 1), 0)  # odd ids first
    proc(docs.filter(F.col("doc_id") % 2 == 0), 1)  # then even (smaller mins)
    assert _committed_versions(idx) == [0, 1]

    streamed_edges = spark.read.parquet(
        os.path.join(out, "batch=lineageA-0", "edges"),
        os.path.join(out, "batch=lineageA-1", "edges"),
    )
    batch_edges = dedup.lsh_bucket_edges(docs, "doc_id", "text")
    assert _clusters(spark, streamed_edges, docs) == _clusters(
        spark, batch_edges, docs
    )


@pytest.mark.slow
def test_classification_and_replay(spark, tmp_path):
    t = "the quick brown fox jumps over the lazy dog again and again"
    b1 = spark.createDataFrame([(10, t), (11, t), (12, "completely different words here nothing shared at all")], SCHEMA)
    b2 = spark.createDataFrame([(20, t), (21, "another fully distinct document with its own vocabulary")], SCHEMA)
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "lin")
    proc(b1, 0)
    proc(b2, 1)

    s1 = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(os.path.join(out, "batch=lin-0", "status")).collect()
    }
    assert s1[10] == "unique"
    assert s1[11] == "near_dup_batch"  # shares buckets with smaller id 10
    assert s1[12] == "unique"
    s2 = {
        r["doc_id"]: (r["status"], r["corpus_anchor"])
        for r in spark.read.parquet(os.path.join(out, "batch=lin-1", "status")).collect()
    }
    assert s2[20] == ("near_dup_corpus", 10)  # anchored to the indexed min
    assert s2[21][0] == "unique"

    # replay batch 1: same base version, index does not advance, outputs
    # are overwritten byte-equivalently
    v_before = _committed_versions(idx)
    rows_before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "batch=lin-1", "status")).collect()
    }
    proc(b2, 1)
    assert _committed_versions(idx) == v_before
    rows_after = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "batch=lin-1", "status")).collect()
    }
    assert rows_after == rows_before
    # the ledger pinned base version 0 for the replayed batch
    with open(os.path.join(idx, "_ledger", "lin-1")) as f:
        assert int(f.read()) == 0


def test_stream_entry_point_end_to_end(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir).limit(60)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("append").json(src)
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    q = run_lsh_ingest_stream(stream, idx, out, ckpt)
    assert q.awaitTermination(600), "stream drain timed out"
    assert _committed_versions(idx) == [0]
    n_status = (
        spark.read.parquet(os.path.join(out, "batch=*", "status")).count()
    )
    assert n_status == 60
    # anchors in the committed index are real doc ids, one per bucket
    committed = spark.read.parquet(os.path.join(idx, "v=0"))
    assert committed.groupBy("band", "bucket").count().agg(
        F.max("count")
    ).collect()[0][0] == 1


@pytest.mark.slow
def test_compact_and_prune_gc(spark, tmp_path):
    """Delta-store GC contract: deltas after the last snapshot are
    load-bearing (every later version resolves through them), so prune
    deletes NOTHING until a compact rolls them up; after the compact the
    pre-snapshot versions go, a replay of a retained batch still reads
    its pinned base version, and classification still sees the full
    history through the snapshot."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.lsh_ingest import (
        compact,
        prune_lsh_versions,
    )

    t = "some shared text repeated across every batch for bucket overlap"
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "gc")
    proc(spark.createDataFrame([(1, t)], SCHEMA), 0)   # v=0 delta
    proc(spark.createDataFrame([(2, t)], SCHEMA), 1)   # v=1 delta (base 0)
    proc(spark.createDataFrame([(3, t)], SCHEMA), 2)   # v=2 delta (base 1)
    # no snapshot yet: v=1 and v=2 both resolve through v=0 — nothing
    # is deletable regardless of keep_last
    assert prune_lsh_versions(idx, keep_last=2) == []
    assert _committed_versions(idx) == [0, 1, 2]
    assert compact(spark, idx) == 3                    # v=3 snapshot
    proc(spark.createDataFrame([(4, t)], SCHEMA), 3)   # v=4 delta (base 3)
    # retained = [3, 4]; v=3 is a snapshot, so 0..2 are GC-eligible
    assert prune_lsh_versions(idx, keep_last=2) == [0, 1, 2]
    assert _committed_versions(idx) == [3, 4]
    # doc 4 classified against the compacted history: anchored to doc 1
    s = {
        r["doc_id"]: (r["status"], r["corpus_anchor"])
        for r in spark.read.parquet(os.path.join(out, "batch=gc-3", "status")).collect()
    }
    assert s[4] == ("near_dup_corpus", 1)
    before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "batch=gc-3", "status")).collect()
    }
    proc(spark.createDataFrame([(4, t)], SCHEMA), 3)  # replay reads base v=3
    after = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "batch=gc-3", "status")).collect()
    }
    assert after == before
    assert _committed_versions(idx) == [3, 4]


@pytest.mark.slow
def test_compact_is_resolution_invariant(spark, sf_dir, tmp_path):
    """Two stores fed the same two batches, one with a compact in
    between: the resolved index and the second batch's classification
    are identical — compaction is pure representation change."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.lsh_ingest import (
        _read_resolved,
        compact,
    )

    docs = _docs(spark, sf_dir)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(F.col("doc_id") % 2 == 0)

    plain_idx, plain_out = str(tmp_path / "plain"), str(tmp_path / "plain_out")
    comp_idx, comp_out = str(tmp_path / "comp"), str(tmp_path / "comp_out")
    plain = _lsh_batch_processor(plain_idx, plain_out, "lin")
    comp = _lsh_batch_processor(comp_idx, comp_out, "lin")
    plain(b1, 0)
    plain(b2, 1)
    comp(b1, 0)
    assert compact(spark, comp_idx) == 1  # snapshot between the batches
    comp(b2, 1)

    def resolved(idx):
        from etl_pipeline_for_elasticsearch_json_document_spark.operators.delta_store import (
            committed_versions as cv,
        )

        return {
            tuple(r)
            for r in _read_resolved(spark, idx, cv(idx)[-1]).collect()
        }

    assert resolved(plain_idx) == resolved(comp_idx)
    for sub in ("status", "edges"):
        a = {
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(plain_out, "batch=lin-1", sub)
            ).collect()
        }
        b = {
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(comp_out, "batch=lin-1", sub)
            ).collect()
        }
        assert a == b, sub


def test_delta_commit_is_batch_sized(spark, tmp_path):
    """The r9 store property the bench measures: a version commit writes
    the BATCH's buckets only, not the merged relation — a 1-doc batch
    against a 50-doc index commits a delta of ≤ bands rows."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.lsh_ingest import (
        BUCKET_SCHEMA,
    )

    big = spark.createDataFrame(
        [(i, f"document number {i} with some moderately unique text body {i * 7}")
         for i in range(50)],
        SCHEMA,
    )
    one = spark.createDataFrame([(999, "a single new arrival document")], SCHEMA)
    idx = str(tmp_path / "lsh")
    proc = _lsh_batch_processor(idx, str(tmp_path / "out"), "sz")
    proc(big, 0)
    proc(one, 1)
    v1 = spark.read.schema(BUCKET_SCHEMA).parquet(
        *[
            os.path.join(idx, "v=1", d)
            for d in os.listdir(os.path.join(idx, "v=1"))
            if d.startswith("p=")
        ]
    )
    assert v1.count() <= 4  # bands=4: one row per band bucket of THE batch


@pytest.mark.slow
def test_live_es_tail_feeds_near_dup_index(spark, tmp_path):
    """The switch-from-the-reference showcase: tail a LIVE (fake) ES
    index with the es_tail streaming source, parse _source per batch,
    and maintain the near-dup bucket index — run 2 on the same
    checkpoint reads ONLY the new docs (the search_after cursor holds)
    and classifies a re-posted text as near_dup_corpus against run 1's
    memory."""
    import json

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
        index = "live_docs"
        t = "a shared template text that will recur across separate ingests"

        def seed(rows, tag):
            df = spark.createDataFrame(rows, SCHEMA)
            out = str(tmp_path / f"bulk_{tag}")
            es_sink.write_bulk_files(df.coalesce(1), out, index, id_col="doc_id")
            es_sink.replay_bulk_files(out, base_url)

        idx = str(tmp_path / "lsh")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def run():
            stream = (
                spark.readStream.format("es_tail")
                .option("url", base_url)
                .option("index", index)
                .option("sort", "doc_id")
                .load()
            )
            parsed = stream.select(
                F.from_json("source_json", SCHEMA).alias("s")
            ).select("s.doc_id", "s.text")
            q = run_lsh_ingest_stream(parsed, idx, outp, ckpt)
            assert q.awaitTermination(600), "stream drain timed out"

        seed([(1, t), (2, "an unrelated document about something else entirely")], "r1")
        run()
        seed([(3, t)], "r2")  # near-dup of doc 1, posted AFTER run 1
        run()

        batches = sorted(os.listdir(outp))
        assert len(batches) == 2  # run 2 drained only the new doc
        statuses = {
            r["doc_id"]: (r["status"], r["corpus_anchor"])
            for b in batches
            for r in spark.read.parquet(os.path.join(outp, b, "status")).collect()
        }
        assert statuses[1][0] == "unique"
        assert statuses[2][0] == "unique"
        assert statuses[3] == ("near_dup_corpus", 1)  # remembered across runs
        assert len(_committed_versions(idx)) == 2
    finally:
        server.shutdown()
        server.server_close()


@pytest.mark.slow
def test_crashed_batch_survives_interleaved_compact(spark, tmp_path):
    """ADVICE r9 through the LSH client: a batch pins its base version,
    crashes pre-commit, compact() claims the version with its snapshot —
    the replay must land the batch's bucket minima as a fresh delta (so
    later batches see its anchors), and a second replay adds nothing."""
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.lsh_ingest import (
        compact,
    )

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "lin")
    proc(spark.createDataFrame([(1, "alpha beta gamma delta")], SCHEMA), 0)

    ledger = os.path.join(idx, "_ledger")
    with open(os.path.join(ledger, "lin-5"), "w") as f:
        f.write("0")  # batch 5 pinned base_v=0, then crashed pre-commit
    assert compact(spark, idx) == 1  # snapshot claims v=1

    b5 = spark.createDataFrame([(9, "omega psi chi phi")], SCHEMA)
    proc(b5, 5)
    proc(b5, 5)  # replay of the replay
    versions = sorted(d for d in os.listdir(idx) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]
    assert not os.path.exists(os.path.join(idx, "v=2", "_SNAPSHOT"))
    # doc 9's buckets are anchored in the index — a later batch with the
    # same text classifies as a corpus near-dup, proving the rows landed
    proc(spark.createDataFrame([(20, "omega psi chi phi")], SCHEMA), 6)
    st = spark.read.parquet(os.path.join(out, "batch=lin-6", "status"))
    r = {x["doc_id"]: (x["status"], x["corpus_anchor"]) for x in st.collect()}
    assert r == {20: ("near_dup_corpus", 9)}


def test_null_text_docs_surface_as_no_text(spark, tmp_path):
    """r10 review: a NULL-text doc yields no signature and hence no
    bucket rows — it must still appear in the batch's status output (as
    'no_text') instead of silently vanishing from the per-doc report."""
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "lin")
    t = "the quick brown fox jumps over the lazy dog again and again"
    b = spark.createDataFrame([(1, t), (2, None), (3, t)], SCHEMA)
    proc(b, 0)
    status = {
        r["doc_id"]: r["status"]
        for r in spark.read.parquet(
            os.path.join(out, "batch=lin-0", "status")
        ).collect()
    }
    assert status == {1: "unique", 2: "no_text", 3: "near_dup_batch"}


def test_misconfigured_banding_fails_at_setup(spark, tmp_path):
    """num_hashes not divisible by bands must fail when the stream is
    BUILT, not inside the first micro-batch (and never silently under
    python -O)."""
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        _lsh_batch_processor(
            str(tmp_path / "i"), str(tmp_path / "o"), "lin",
            num_hashes=16, bands=5,
        )


def test_hash_family_mismatch_refused(spark, tmp_path):
    """ADVICE r10 #1: a persisted LSH store is only valid under the hash
    family that built it — after the r10 seed-prefix fix, pre-fix stores
    hash identical text to different buckets and known near-dups would
    classify 'unique' SILENTLY. The store stamps its family at creation
    and refuses ingest on mismatch; a store with committed versions but
    NO stamp (pre-guard vintage) is also refused."""
    import pytest

    from etl_pipeline_for_elasticsearch_json_document_spark.operators import (
        delta_store,
    )

    t = "the quick brown fox jumps over the lazy dog again and again"
    b = spark.createDataFrame([(1, t)], SCHEMA)
    idx = str(tmp_path / "lsh")
    out = str(tmp_path / "out")
    proc = _lsh_batch_processor(idx, out, "lin")
    proc(b, 0)
    stamp = os.path.join(idx, "_HASH_FAMILY")
    assert os.path.exists(stamp)
    # same family: a later batch ingests fine
    proc(spark.createDataFrame([(2, t)], SCHEMA), 1)
    # different family: refused loudly with the rebuild instruction
    with open(stamp, "w") as f:
        f.write("minhash-md5-prefix8/v1")
    with pytest.raises(ValueError, match="hash family"):
        proc(spark.createDataFrame([(3, t)], SCHEMA), 2)
    # committed versions but no stamp at all (pre-guard store): refused
    os.remove(stamp)
    assert delta_store.committed_versions(idx)
    with pytest.raises(ValueError, match="no _HASH_FAMILY"):
        proc(spark.createDataFrame([(3, t)], SCHEMA), 2)
