"""Streaming incremental sketch maintenance: a count-min sketch kept
up-to-date over an unbounded stream via ``foreachBatch`` merge.

This is the streaming face of the mergeable-summary story
(operators/sketches.py): each micro-batch builds its own depth×width
sketch (shuffle volume = sketch size), merges it with the persisted one by
SUMMING buckets (associative + commutative), and atomically swaps the
state file. Because the merge is exact, the streamed sketch after any
drain equals the batch sketch over all data seen — pinned in
tests/test_streaming.py — which is also the restart/backfill guarantee:
replay order cannot change the result.

Delivery/crash semantics: foreachBatch is at-least-once, so every state
row carries a replay LEDGER — a ``ckpt_id → last merged batch_id`` map
(JSON, constant across rows, swapped atomically WITH the sketch) — and a
replayed batch FROM THE SAME CHECKPOINT LINEAGE is detected and SKIPPED
(merging it twice would double-count — exactly-once at the state level).
The lineage scoping matters: a fresh checkpoint restarts epochs at 0, and
its batch 0 is genuinely new data that MUST merge — an epoch-only ledger
would silently drop it. The ledger is per-lineage (not a single last
pair) so two checkpoint lineages alternating over one state path cannot
evict each other's high-water mark and re-admit a same-lineage replay;
pre-ledger state files carrying scalar ``(ckpt_id, last_batch)`` columns
are migrated into the map on first merge. The swap keeps a ``.__old__`` backup until the new
state is in place, and ``read_sketch`` falls back to the backup, so a
crash at any point between the renames loses at most the in-flight batch
(which then replays), never the history.

At 100 TB/day the same shape runs per shard/hour and the global sketch is
one more bucket-sum rollup; raw data is never re-read. The reference has
no analog (it re-scans for every count, ``ElasticSearch ETL.py:214``).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
    count_min_build,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def _read_ledger(prev: DataFrame | None) -> dict[str, int]:
    """Replay ledger from a state file: ``ckpt_id → last merged batch``.

    Reads the JSON ``ledger`` column (constant across rows); state files
    written before the per-lineage ledger carried scalar ``(ckpt_id,
    last_batch)`` columns instead and are migrated into a one-entry map so
    an upgrade cannot re-admit (double-merge) their last batch.
    """
    if prev is None:
        return {}
    if "ledger" in prev.columns:
        row = prev.select("ledger").first()
        if row is not None and row["ledger"]:
            return {k: int(v) for k, v in json.loads(row["ledger"]).items()}
        return {}
    if "last_batch" in prev.columns:
        row = prev.select(
            F.max("last_batch").alias("done"),
            F.max("ckpt_id").alias("ckpt")
            if "ckpt_id" in prev.columns
            else F.lit(None).cast("string").alias("ckpt"),
        ).first()
        if row is not None and row["done"] is not None and row["ckpt"] is not None:
            return {row["ckpt"]: int(row["done"])}
    return {}


def merge_sketches(*sketches: DataFrame) -> DataFrame:
    """Exact mergeable-summary merge: bucket-wise count sums."""
    out = sketches[0].select("d", "bucket", "cnt")
    for s in sketches[1:]:
        out = out.unionByName(s.select("d", "bucket", "cnt"))
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def read_sketch(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current sketch state; falls back to the ``.__old__`` backup if a
    crash landed between the swap renames (state momentarily absent)."""
    for p in (state_path, state_path + ".__old__"):
        if os.path.exists(p):
            return spark.read.parquet(p)
    return None


def run_cms_stream(
    stream: DataFrame,
    item_col: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    trigger_available_now: bool = True,
):
    """Maintain a count-min sketch of ``item_col`` over a stream.

    Per micro-batch: build the batch's sketch, merge with the persisted
    sketch (bucket sums), write to a staging dir, swap. The state is at
    most depth×width rows, so the merge is a broadcast-sized job no matter
    how large the stream gets. Replayed batches (at-least-once delivery)
    are detected via the ``(ckpt_id, last_batch)`` ledger and skipped —
    but only within the same checkpoint lineage, so a fresh checkpoint's
    restarted epoch numbering never masks new data. Returns the
    StreamingQuery.
    """
    spark = stream.sparkSession

    def make_body(ckpt_id: str):
        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            prev = read_sketch(spark, state_path)
            ledger = _read_ledger(prev)
            # Skip ONLY replays from the SAME checkpoint lineage: a fresh
            # checkpoint restarts epochs at 0 and its batch 0 is new data.
            done = ledger.get(ckpt_id)
            if done is not None and done >= batch_id:
                return  # replay of a merged batch: skip, don't double-count
            batch_sketch = count_min_build(
                batch_df.select(item_col), item_col, depth=depth, width=width
            )
            merged = (
                batch_sketch if prev is None else merge_sketches(prev, batch_sketch)
            )
            ledger[ckpt_id] = batch_id
            merged = merged.withColumn("ledger", F.lit(json.dumps(ledger)))
            staging = state_path + ".__next__"
            if os.path.exists(staging):  # stale staging from a crashed attempt
                shutil.rmtree(staging)
            # materialize BEFORE touching state_path (merged reads from it)
            merged.coalesce(1).write.mode("overwrite").parquet(staging)
            old = state_path + ".__old__"
            if os.path.exists(old):
                shutil.rmtree(old)
            if os.path.exists(state_path):
                os.rename(state_path, old)
            os.rename(staging, state_path)
            if os.path.exists(old):
                shutil.rmtree(old)

        return on_batch

    return start_foreach_batch(
        stream, checkpoint_dir, make_body, trigger_available_now
    )
