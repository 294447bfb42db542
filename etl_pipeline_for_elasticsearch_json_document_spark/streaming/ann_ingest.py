"""Continuous ANN-index maintenance: the versioned IVF store
(operators/ann_index.py) driven by an embedding stream.

Each micro-batch of vectors is assigned against the codebook as the
store stood BEFORE the batch and advances the store by exactly one
version — the streaming twin of :func:`ann_index.ivf_upsert`, running
forever, completing the maintenance triad (fingerprint index q158 /
rollup / ANN) on one shared protocol.

Exactly-once under foreachBatch's at-least-once: the marker-first
ledger all five store streams share (:func:`delta_store.pin_base`) pins,
per (checkpoint-lineage, batch), the BASE store version, before any
store write. On replay the marker already exists, so the batch
re-assigns against the same codebook, skips the version commit if it
already landed, and overwrites its own deterministic output dir. The
codebook NEVER changes inside the stream (it is stored once per store) —
upserts only append postings (r9: as O(|batch|) DELTA versions —
see the ann_index store docs); :func:`ann_index.ivf_health` is the
scheduled measurement that decides when to stop the stream, refit
(``ivf_build`` to a fresh path), and re-point queries.

Reference analog: the reference's pagination loop (`ElasticSearch
ETL.py:220-267`) ships every batch downstream with no queryable
structure over history; this keeps a similarity index continuously
current instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
    _assign_fn,
    _latest,
    _read_centroids,
    _write_postings,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def _ann_batch_processor(
    index_path: str,
    out_path: str,
    ckpt_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "expr",
):
    """The per-batch body, exposed for direct replay testing. ``assign``
    must match the method the store was BUILT with ('expr' | 'pandas' —
    :func:`ann_index._assign_fn`): a store fitted in the large-k 'pandas'
    regime maintained by the expr path would mix assignment engines AND
    inline an O(k·dim) expression at exactly the cell counts the Arrow
    path exists to make plannable."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # refuse before pinning: an empty store must leave no marker (the
        # codebook is fitted offline by ivf_build, never in a micro-batch)
        _latest(index_path)
        marker, base_v = delta_store.pin_base(index_path, ckpt_id, batch_id)
        cents = _read_centroids(spark, index_path)
        asg = _assign_fn(assign)(
            batch_df,
            cents.select(
                F.col("cid").alias(id_col), F.col("centroid").alias(vec_col)
            ),
            id_col,
            vec_col,
        ).select(F.col(id_col).cast("long").alias("vec_id"), "cid", "dist")
        # persist + EXPLICIT unpersist (r12; was localCheckpoint — the
        # last store carrying the r11 leak class): checkpointed blocks
        # are released only by the lazy ContextCleaner, so a long-running
        # ANN ingest stream accumulated every batch's blocks in executor
        # storage exactly like the LSH store did (build 3.2 s → 12.2 s
        # across cycles before the lsh_ingest fix). Recompute is
        # version-safe: the codebook is stored once and never changes, so
        # a lost block re-derives the SAME assignment even after the
        # store advances.
        asg = asg.persist()
        try:
            asg.count()  # materialize the one assignment pass eagerly

            # DELTA commit (r9): the batch's own assignments, O(|batch|)
            # written — the store's last-write-wins resolution replaces
            # re-upserted ids at read time, so the old postings never need
            # to be read (or rewritten) here at all. commit_pinned_delta
            # (r10) guards the replay skip: v=base_v+1 must be OUR delta,
            # not a snapshot compact_ann_index committed in between.
            delta_store.commit_pinned_delta(
                index_path,
                marker,
                base_v,
                lambda v: _write_postings(index_path, v, asg, reclaim_torn=True),
            )
            # deterministic per-(lineage, batch) dir + overwrite = idempotent
            asg.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch={ckpt_id}-{batch_id}")
            )
        finally:
            # bounded per-batch executor storage: release NOW, not
            # whenever the ContextCleaner collects the dead reference
            asg.unpersist()

    return process_batch


def run_ann_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
    assign: str = "expr",
):
    """Attach IVF-store maintenance to a streaming DataFrame of vectors.
    Returns the StreamingQuery (caller awaits termination). ``assign``
    must match the store's build method — see :func:`_ann_batch_processor`."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _ann_batch_processor(
            index_path, out_path, ckpt_id, id_col, vec_col, assign
        ),
        trigger_available_now,
    )
