"""Continuous Elasticsearch tailing as a Structured Streaming source.

The reference's export job is a BATCH loop: count, then page with
``search_after`` until caught up, then exit (``ElasticSearch ETL.py:
201-267``); re-running it re-reads from the top.  This source is the
always-on form of that same keyset cursor: a Spark 4 Python streaming
data source (``SimpleDataSourceStreamReader``) whose OFFSET is the
reference's ``search_after`` tuple itself.  Each micro-batch drains
everything the index gained since the last committed sort position::

    spark.dataSource.register(EsTailDataSource)
    stream = (spark.readStream.format("es_tail")
              .option("url", "http://es-host:9200")
              .option("index", "claims")
              .option("sort", "auditProcessedDateTimeUtc,claimRequestId")
              .load())
    # columns: _index, _id, sort_json, source_json  (same as es_live)

Exactly-once: the offset checkpointed by Spark is the last-emitted sort
tuple, and ``readBetweenOffsets(start, end)`` deterministically re-reads
the half-open interval ``start < sort <= end`` on crash replay — the
``(ts, id)`` sort is a total order (the property the reference's loop
already relies on for no-skip/no-dup paging), so a replayed batch is the
same rows in the same order. The page loop is
:class:`~.es_http.SearchAfterScan`, the one the sliced ``es_live`` read
runs per slice.

Scale posture: a ``SimpleDataSourceStreamReader`` reads on the DRIVER —
the right shape for a low-latency control-plane tail (the cursor loop is
inherently sequential; one open cursor per stream). It is deliberately
the same topology as the reference's own loop. For bulk catch-up of a
large index, run the sliced ``es_live`` batch source (executor-parallel,
PIT-snapshotted) to a cutoff first, then start this tail from that
cutoff via ``.option("start_after", <json sort array>)``.

Deployment note: the planning runs in a spawned Python worker, so this
package must be importable there — install it, or launch with the repo
root as the working directory / on ``spark.submit.pyFiles``; Spark's
``Trigger.AvailableNow`` falls back to single-batch execution for Python
streaming sources (harmless: one batch drains to the cap).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_http import (
    HIT_SCHEMA,
    SearchAfterScan,
    hit_row,
)


def _leq(a: list[Any], b: list[Any]) -> bool:
    """Element-wise ``a <= b`` over ES sort arrays (per-field types are
    homogeneous along one index's sort, so tuple comparison is total)."""
    return tuple(a) <= tuple(b)


class EsTailStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.scan = SearchAfterScan(options, "es_tail")
        self.max_docs_per_batch = int(options.get("max_docs_per_batch", "100000"))
        #: resume point for a fresh checkpoint (e.g. the cutoff of an
        #: es_live bulk catch-up): JSON sort array, exclusive
        self.start_after = options.get("start_after")

    # -- offset protocol ---------------------------------------------------
    def initialOffset(self) -> dict:
        after = json.loads(self.start_after) if self.start_after else None
        return {"after": json.dumps(after)}

    def read(self, start: dict):
        """Drain new documents after ``start`` (capped at
        ``max_docs_per_batch`` so one giant backlog can't build a
        boundless micro-batch); return (rows, end offset)."""
        rows: list[tuple] = []
        last = None
        for hits in self.scan.pages(json.loads(start["after"])):
            rows.extend(map(hit_row, hits))
            last = hits[-1]
            if len(rows) >= self.max_docs_per_batch:
                break
        if not rows:
            return iter(()), start
        return iter(rows), {"after": json.dumps(last["sort"])}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Crash-replay of one committed batch: re-read exactly
        ``start < sort <= end``. Deterministic because (ts, id) is a
        total order — same rows, same order, every time."""
        bound = json.loads(end["after"])
        if bound is None:
            return iter(())
        rows: list[tuple] = []
        for hits in self.scan.pages(json.loads(start["after"])):
            for hit in hits:
                if not _leq(hit["sort"], bound):
                    return iter(rows)
                rows.append(hit_row(hit))
        return iter(rows)

    def commit(self, end: dict) -> None:  # nothing to release server-side
        return


class EsTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "es_tail"

    def schema(self) -> str:
        return HIT_SCHEMA

    def simpleStreamReader(self, schema) -> EsTailStreamReader:
        return EsTailStreamReader(self.options)
