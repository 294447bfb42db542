"""Continuous ingestion dedup: the persistent fingerprint index
(operators/index_maintenance.py) driven by a stream.

Each micro-batch is classified against the index as it stood BEFORE the
batch and then advances the index by exactly one version — the streaming
twin of q158's batch semantics, running forever. Since r9 the store is
the shared DELTA protocol (:mod:`operators.delta_store`): each version
commits only the batch's genuinely-new fingerprints (O(|batch|), never
an index rewrite) and classification prunes its read to the hash
partitions the batch's fingerprints touch — per-batch cost is bounded
by the batch on both ends; ``compact_fingerprint_index`` /
``prune_fingerprint_versions`` are the scheduled roll-up and GC.

Exactly-once protocol (foreachBatch is at-least-once): the marker-first
ledger of :func:`operators.delta_store.pin_base`, shared by all five store
streams, pins per (checkpoint-lineage, batch) the BASE index version the
batch classifies against, before any index write happens. On replay the
marker already exists, so the batch re-classifies against the SAME base
resolution (old versions are retained — that is why the index is
versioned rather than updated in place), skips the version commit if it
already landed, and overwrites its own deterministic output dir. Every
step is idempotent:

1. ``pin_base``: read the marker's base_v, or record base_v = latest
   committed version (atomic tmp+rename, so a torn write is invisible);
2. classify the batch against the resolution of ``v<=base_v`` (empty
   index for base_v=-1);
3. commit delta ``v=base_v+1`` via ``delta_store.commit_pinned_delta``:
   skip ONLY when the committed version is our own delta — if a
   compact() claimed the version with its snapshot between our marker
   and our commit, the batch re-pins past the tail (recorded in
   ``<marker>.recovered``) and commits there instead of silently
   dropping its rows from the index;
4. overwrite ``out_path/batch=<lineage>-<id>/`` with the classification.

Crash between any two steps replays into the identical result. Markers
are scoped to the checkpoint lineage because epoch ids restart at 0
under a fresh checkpoint — a new lineage's batch 0 is new data, not a
replay (same reasoning as streaming/export_job.py's ledger).

Reference analog: the reference re-runs its whole export per scheduler
tick with no memory of prior content (``ElasticSearch ETL.py:220-267``
re-fetches from a cursor but never deduplicates against history); this
operator is the missing remember-what-you-ingested half at stream pace.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.index_maintenance import (
    DEFAULT_PARTITIONS,
    _classify,
    _commit_delta,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def _index_batch_processor(
    index_path: str,
    out_path: str,
    ckpt_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """The per-batch body, exposed for direct replay testing.
    ``n_partitions`` applies only when this batch CREATES the store (the
    persisted _META wins)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker, base_v = delta_store.pin_base(index_path, ckpt_id, batch_id)
        result = _classify(
            spark, index_path, batch_df, base_v, id_col, text_col, n_partitions
        )
        try:
            # exactly-once commit that survives a compact() claiming our
            # version between marker and commit (delta_store.commit_pinned_delta
            # — skip only when v=base_v+1 is OUR delta, never a snapshot)
            delta_store.commit_pinned_delta(
                index_path,
                marker,
                base_v,
                lambda v: _commit_delta(result, index_path, v, reclaim_torn=True),
            )
            # deterministic per-(lineage, batch) dir + overwrite = idempotent
            result.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch={ckpt_id}-{batch_id}")
            )
        finally:
            # bounded per-batch executor storage (the lsh_ingest
            # discipline): release the batch's persisted classification
            result.unpersist()

    return process_batch


def run_index_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """Attach the fingerprint-index ingest to a streaming DataFrame of
    documents. Returns the StreamingQuery (caller awaits termination)."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _index_batch_processor(
            index_path, out_path, ckpt_id, id_col, text_col, n_partitions
        ),
        trigger_available_now,
    )
