"""Checkpoint-lineage identity for at-least-once replay ledgers.

foreachBatch epoch ids are only monotone WITHIN one checkpoint lineage: a
fresh checkpoint over the same state/output restarts epochs at 0, so any
ledger keyed on the epoch alone would treat genuinely new data in batches
0..N as a replay and silently skip it (data loss). Every replay ledger in
this package (export_job audit rows, epoch-named output dirs, the
delta-store ledger markers) therefore pairs the epoch with this lineage
id and only skips when BOTH match — a crash replay (same checkpoint,
re-delivered epoch) is skipped; a new lineage merges/writes under its
own key. :func:`start_foreach_batch` is the one place a stream
gets its lineage id and its foreachBatch body.
"""

from __future__ import annotations

import hashlib
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable 16-hex identity of a checkpoint lineage (path-derived: one
    checkpoint directory == one offset/commit log == one epoch sequence)."""
    return hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]


def start_foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    make_body: Callable[[str], Callable[[DataFrame, int], None]],
    available_now: bool,
) -> StreamingQuery:
    """Start ``stream`` through the foreachBatch body that
    ``make_body(lineage_id)`` builds, checkpointed at ``checkpoint_dir``
    (``available_now`` drains what is there and stops). Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(
        make_body(checkpoint_identity(checkpoint_dir))
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
