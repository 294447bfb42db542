"""Streaming DataFrame → Elasticsearch export: the reference pipeline's
direction reversed (it only reads ES, ``ElasticSearch ETL.py:214-267``)
and made continuous.

Per micro-batch inside ``foreachBatch``:

1. render the batch as ``_bulk`` NDJSON with :func:`~.sinks.elasticsearch.
   bulk_payload` (map-only ``to_json`` projection, id-pinned → idempotent),
2. write it to an epoch-named directory scoped to the checkpoint lineage
   (the same exactly-once discipline as export_job.py: a same-lineage
   crash replay overwrites its own directory; a fresh checkpoint's epoch 0
   is new data under a new name),
3. optionally POST each capped file to a live ``_bulk`` endpoint with the
   zero-dependency replayer — because the payload pins ``_id``, a replayed
   POST upserts instead of duplicating, so the at-least-once delivery of
   foreachBatch is exactly-once at the index level.

The file handoff is the 100 TB shape: payload generation scales with the
stream, each file ≈ one bulk request, and indexing throughput is decoupled
from Spark — a slow cluster backs up the replay step, never the stream.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame

from etl_pipeline_for_elasticsearch_json_document_spark.sinks.elasticsearch import (
    replay_bulk_files,
    write_bulk_files,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def run_es_export_stream(
    stream: DataFrame,
    output_dir: str,
    index: str,
    checkpoint_dir: str,
    id_col: Optional[str] = None,
    base_url: Optional[str] = None,
    max_docs_per_file: Optional[int] = 1000,
    trigger_available_now: bool = True,
):
    """Stream → per-epoch bulk NDJSON dirs (→ optional live ``_bulk``
    replay when ``base_url`` is given). Returns the StreamingQuery."""

    def make_body(ckpt_id: str):
        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            path = os.path.join(output_dir, f"bulk_epoch{batch_id:06d}_{ckpt_id}")
            write_bulk_files(
                batch_df, path, index, id_col=id_col,
                max_docs_per_file=max_docs_per_file,
            )
            if base_url:
                replay_bulk_files(path, base_url)

        return on_batch

    return start_foreach_batch(
        stream, checkpoint_dir, make_body, trigger_available_now
    )
