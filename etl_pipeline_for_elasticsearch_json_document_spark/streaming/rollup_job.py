"""Always-on incremental rollup: the materialized aggregate of
operators/rollup_maintenance.py maintained by a stream.

r10: the store is the shared DELTA protocol — each micro-batch commits
ONLY its own partial aggregate (O(|batch| groups) written, never the
standing relation) and the standing rollup is the merge-aggregate over
snapshot + deltas at read time.

Exactly-once matters MORE here than for the other stores: sum/count
merge-aggregation is not idempotent under row duplication, so a
double-committed batch double-counts instead of resolving away. The
protocol is therefore marker-first (:func:`delta_store.pin_base`, the
ledger all five store streams share, pins the base version before any
store write) and the commit goes through
``delta_store.commit_pinned_delta``: a replay skips only when its
pinned version is committed AND is a delta; when a compact() stole the
version with its snapshot, the batch re-pins past the tail and commits
there — never dropped, never doubled (the recovery version is recorded
before the commit, so further replays reuse it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
    DEFAULT_PARTITIONS,
    _aggregate,
    _guard_pre_protocol_layout,
    _load_or_init_rollup_meta,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def _rollup_batch_processor(
    rollup_path: str,
    ckpt_id: str,
    keys: list[str],
    measures: dict[str, tuple],
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """Per-batch body, exposed for direct replay testing.
    ``n_partitions`` applies only when this batch CREATES the store."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _guard_pre_protocol_layout(rollup_path)  # before the ledger marker
        marker, base_v = delta_store.pin_base(rollup_path, ckpt_id, batch_id)
        _load_or_init_rollup_meta(rollup_path, keys, measures)
        store_meta = delta_store.load_or_init_meta(rollup_path, n_partitions)
        delta = _aggregate(batch_df, keys, measures)
        delta_store.commit_pinned_delta(
            rollup_path,
            marker,
            base_v,
            lambda v: delta_store.write_version(
                delta, rollup_path, v, keys, store_meta["n_partitions"],
                reclaim_torn=True,
            ),
        )

    return process_batch


def run_rollup_stream(
    stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    keys: list[str],
    measures: dict[str, tuple],
    trigger_available_now: bool = True,
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """Attach the incremental rollup to a streaming DataFrame. Returns
    the StreamingQuery (caller awaits termination)."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _rollup_batch_processor(
            rollup_path, ckpt_id, keys, measures, n_partitions
        ),
        trigger_available_now,
    )
