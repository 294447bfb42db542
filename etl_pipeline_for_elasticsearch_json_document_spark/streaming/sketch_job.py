"""Streaming count-min sketch maintenance: the sketch kept as a rollup
store.

A count-min sketch is a count over ``(d, bucket)`` cells, so its state is
the incremental rollup of streaming/rollup_job.py: each micro-batch
projects its items to their cells (``operators.sketches.count_min_cells``,
the rows ``count_min_build`` aggregates) and commits its own per-cell
counts as one delta through the marker-first ledger every store stream
shares. Read the sketch with ``rollup_maintenance.read_rollup`` (``d int,
bucket int, cnt bigint``); after any drain it equals ``count_min_build``
over all data seen, whatever the batch order (tests/test_streaming.py).
Each tick adds one delta of at most depth×width rows until
``compact_rollup`` folds the tail into a snapshot. A plain parquet state
directory from before the sketch became a rollup is refused unwritten.
The store records its ``(depth, width)`` in ``_SKETCH`` when it is
created, and a run with another geometry is refused before its stream
starts: cells of two widths in one store make every estimate wrong.

At 100 TB/day the same shape runs per shard/hour and the global sketch is
one more bucket-sum rollup; raw data is never re-read. The reference has
no analog (it re-scans for every count, ``ElasticSearch ETL.py:214``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
    _pre_protocol_entries,
)
from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
    count_min_cells,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
    run_rollup_stream,
)

_SKETCH_META = "_SKETCH"


def _check_geometry(state_path: str, depth: int, width: int) -> None:
    """Stamp ``(depth, width)`` into a new store, or refuse a store
    stamped with another geometry (:func:`delta_store.create_sidecar`).
    An old layout is left unwritten for the stream's first batch to
    refuse."""
    if _pre_protocol_entries(state_path):
        return
    want = {"depth": int(depth), "width": int(width)}
    found = json.loads(
        delta_store.create_sidecar(state_path, _SKETCH_META, json.dumps(want))
    )
    if found != want:
        raise ValueError(
            f"count-min store at {state_path} was built with {found}; this "
            f"run passed {want}. Cells of two geometries in one store make "
            "every estimate wrong: use the store's geometry or a new path."
        )


def run_cms_stream(
    stream: DataFrame,
    item_col: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    trigger_available_now: bool = True,
):
    """Maintain a count-min sketch of ``item_col`` over a stream as the
    rollup store at ``state_path``. The state never exceeds depth×width
    rows, so it lives in one hash partition. Returns the StreamingQuery.
    """
    _check_geometry(state_path, depth, width)
    return run_rollup_stream(
        count_min_cells(stream, item_col, depth, width),
        state_path,
        checkpoint_dir,
        keys=["d", "bucket"],
        measures={"cnt": ("count", "*")},
        trigger_available_now=trigger_available_now,
        n_partitions=1,
    )
