"""Distributed LIVE Elasticsearch scan: a Python DataSource whose
partitions are ES slices, each paged by ``search_after`` on an executor.

The reference's scan (``ElasticSearch ETL.py:220-267``) is a sequential
driver-side ``search_after`` loop — one cursor, one page in flight, every
document funneled through one process. That shape is kept (faithfully)
in ``sources/keyset.py`` / ``sources/elasticsearch.py::scan_with_client``
for export pagination; THIS source is its 100 TB form: the index is
partitioned with ES's native ``slice: {id, max}`` request parameter (the
same mechanism the official elasticsearch-hadoop connector and sliced
scrolls use), one Spark input partition per slice, and each executor task
runs its own independent keyset loop over its slice via the
zero-dependency :class:`~.es_http.HttpEsClient`. No driver involvement in
the data path, N concurrent cursors, linear speedup until the cluster
caps out::

    spark.dataSource.register(EsLiveDataSource)
    df = (spark.read.format("es_live")
          .option("url", "http://es-host:9200")
          .option("index", "claims")
          .option("slices", 16)
          .option("sort", "auditProcessedDateTimeUtc,claimRequestId")
          .load())
    # columns: _index, _id, sort_json, source_json

``source_json`` feeds the flatten planner exactly like the envelope
reader's column; byte-parity of the two paths is pinned in
tests/test_es_live.py.

Snapshot isolation: ES only honors ``slice`` on a point-in-time (or
scroll) context — a sliced read of a live, actively-written index could
otherwise tear across pages. So for ``slices > 1`` this source OPENS A
PIT on the driver in ``partitions()`` (one ``POST /{index}/_pit``), ships
the id inside every ``_SlicePartition``, and each executor attaches
``{"pit": {"id": ...}}`` to its requests (sent to ``POST /_search`` —
body-only, as real ES requires with a PIT). All slices therefore read ONE
frozen doc set; concurrent ``_bulk`` writes during the scan are invisible
(pinned in tests/test_es_live.py against the fake cluster's PIT
semantics). The PIT expires server-side after ``pit_keep_alive``
(default ``5m``; raise it for long scans — there is no reader-close hook
in the DataSource API, so expiry is the cleanup path). A caller may also
pass a pre-opened ``pit_id`` to coordinate several reads on one snapshot.
A single-slice read without PIT keeps the reference's plain live-index
``search_after`` semantics (``ElasticSearch ETL.py:220-267``).

Each slice's ``search_after`` cursor restarts independently, so a
failed/speculated task re-reads only its own slice (idempotent: hits are
keyed by ``_id``; under a PIT the retry is also byte-identical).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_http import (
    HIT_SCHEMA,
    HttpEsClient,
    SearchAfterScan,
    hit_row,
)


@dataclass
class _SlicePartition(InputPartition):
    slice_id: int
    n_slices: int
    pit_id: str | None


class EsLiveReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.scan = SearchAfterScan(options, "es_live")
        self.n_slices = int(options.get("slices", "1"))
        if self.n_slices < 1:
            raise ValueError("slices must be >= 1")
        #: pre-opened PIT id (coordinate several reads on one snapshot) —
        #: when absent and slices > 1, partitions() opens one itself
        self.pit_id = options.get("pit_id")
        self.pit_keep_alive = options.get("pit_keep_alive", "5m")
        #: "true" forces a PIT even for a single-slice read (snapshot-
        #: consistent sequential scan); "false" + slices>1 is rejected by
        #: the protocol itself, so there is no unsafe combination to offer
        self.force_pit = options.get("pit", "").lower() == "true"

    def partitions(self):
        # one Spark task per ES slice — the unit of read parallelism.
        # slices > 1 REQUIRES a snapshot context (real ES rejects slice on
        # a plain _search): open the PIT here, once, driver-side.
        pit_id = self.pit_id
        if pit_id is None and (self.n_slices > 1 or self.force_pit):
            pit_id = HttpEsClient(self.scan.url).open_pit(
                self.scan.index, keep_alive=self.pit_keep_alive
            )
        return [_SlicePartition(i, self.n_slices, pit_id) for i in range(self.n_slices)]

    def read(self, partition: _SlicePartition):
        # executor-side: an independent search_after loop over ONE slice
        clauses = {}
        if partition.n_slices > 1:
            clauses["slice"] = {"id": partition.slice_id, "max": partition.n_slices}
        if partition.pit_id is not None:
            clauses["pit"] = {"id": partition.pit_id, "keep_alive": self.pit_keep_alive}
        for hits in self.scan.pages(clauses=clauses):
            yield from map(hit_row, hits)


class EsLiveDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "es_live"

    def schema(self) -> str:
        return HIT_SCHEMA

    def reader(self, schema) -> EsLiveReader:
        return EsLiveReader(self.options)
