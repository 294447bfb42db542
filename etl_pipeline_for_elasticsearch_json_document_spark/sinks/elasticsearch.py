"""Elasticsearch sink: DataFrame → index (the north-star "DataFrame ETL to
Elasticsearch sink" direction — the reference only READS from ES,
``ElasticSearch ETL.py:220-232``; this closes the round trip).

Three tiers, mirroring the source-side design (sources/elasticsearch.py):

1. :func:`bulk_payload` / :func:`write_bulk_files` — render rows as the ES
   ``_bulk`` NDJSON protocol (action line + source line) with built-in
   ``to_json`` and write them as partitioned text files. This is the
   testable-everywhere tier AND the 100 TB shape: payload generation is a
   map-only projection, each executor's files are independent, and any
   ingestion fleet (Logstash, curl loops, a queue) can replay them —
   decoupling Spark's write throughput from the cluster's indexing
   throughput. Idempotent by construction when ``id_col`` is set: replayed
   ``index`` actions with explicit ``_id`` overwrite, never duplicate.
   :func:`replay_bulk_files` is the matching zero-dependency replayer
   (stdlib urllib → ``_bulk``), closing the loop end-to-end — a full
   parquet → bulk files → replay → ``search_after`` re-scan → flatten
   round trip runs against a loopback fake cluster in
   tests/test_es_roundtrip.py. This is the one ``_bulk`` file writer:
   the streaming export (``streaming/es_export.run_es_export_stream``)
   calls it once per micro-batch, into a directory named by epoch and
   checkpoint lineage.
2. :func:`write_es_connector` — the official connector
   (``org.elasticsearch.spark.sql``), when its jar is on the cluster.
3. :func:`write_with_client` — ``foreachPartition`` + the Python client's
   ``bulk`` helper for environments with the client but no jar; gated with
   a clear error here (no client in this container), like the source side.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - absent in this container
    from elasticsearch import Elasticsearch  # type: ignore

    HAS_ES_CLIENT = True
except ImportError:  # pragma: no cover
    Elasticsearch = None  # type: ignore
    HAS_ES_CLIENT = False


def bulk_payload(df: DataFrame, index: str, id_col: Optional[str] = None) -> DataFrame:
    """One output row per document: ``action`` and ``source`` are the two
    NDJSON lines of the ES ``_bulk`` protocol. Pure ``to_json`` projection
    (shuffle-free, codegen-able); with ``id_col`` the action pins ``_id``
    so replays are idempotent upserts instead of duplicates."""
    # The action line is rendered with to_json (never string concatenation)
    # so id values containing quotes/backslashes are JSON-escaped — a raw
    # concat would corrupt the NDJSON and let a crafted id inject action
    # metadata (e.g. redirect the doc to another _index) on replay.
    meta = [F.lit(index).alias("_index")]
    if id_col:
        meta.append(F.col(id_col).cast("string").alias("_id"))
    action: Column = F.to_json(F.struct(F.struct(*meta).alias("index")))
    return df.select(
        action.alias("action"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("source"),
    )


def write_bulk_files(
    df: DataFrame,
    path: str,
    index: str,
    id_col: Optional[str] = None,
    max_docs_per_file: Optional[int] = None,
) -> None:
    """Write ready-to-POST ``_bulk`` NDJSON files (action\\nsource\\n per
    doc). ``max_docs_per_file`` is a HARD cap (writer-enforced via Spark's
    ``maxRecordsPerFile``, one output row == one doc) so each bulk request
    stays inside ES's http limits — at scale one file ≈ one bulk request and
    the ingest fleet fans out across files. No extra job is triggered: the
    cap needs no ``count()`` and no repartition shuffle."""
    payload = bulk_payload(df, index, id_col)
    lines = payload.select(
        F.concat_ws("\n", F.col("action"), F.col("source")).alias("value")
    )
    writer = lines.write.mode("overwrite")
    if max_docs_per_file:
        writer = writer.option("maxRecordsPerFile", max_docs_per_file)
    writer.text(path)


def replay_bulk_files(path: str, base_url: str, index: str | None = None) -> int:
    """Replay :func:`write_bulk_files` output against a live ``_bulk``
    endpoint with stdlib urllib — the "any ingestion fleet" half of the
    handoff design, runnable with zero installs. One POST per part file
    (each file was capped to one bulk request's worth of docs); returns the
    number of files replayed. Replays are idempotent when the payload was
    generated with ``id_col`` (explicit ``_id`` upserts)."""
    import glob
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_http import (
        HttpEsClient,
    )

    client = HttpEsClient(base_url)
    files = sorted(
        f
        for f in glob.glob(os.path.join(path, "part-*"))
        if not f.endswith(".crc")
    )
    for f in files:
        with open(f, "r", encoding="utf-8") as fh:
            payload = fh.read()
        if payload.strip():
            resp = client.bulk_ndjson(payload, index=index)
            if resp.get("errors"):
                raise RuntimeError(f"bulk replay of {f} reported item errors: {resp}")
    return len(files)


def write_es_connector(
    df: DataFrame, index: str, nodes: str = "localhost", port: int = 9200,
    id_col: Optional[str] = None,
) -> None:
    """Official connector write (needs the es-hadoop/es-spark jar)."""
    w = (
        df.write.format("org.elasticsearch.spark.sql")
        .option("es.nodes", nodes)
        .option("es.port", str(port))
    )
    if id_col:
        w = w.option("es.mapping.id", id_col)
    w.mode("append").save(index)


def write_with_client(
    df: DataFrame,
    index: str,
    id_col: Optional[str] = None,
    es_client: Optional["Elasticsearch"] = None,
    chunk_size: int = 500,
) -> None:
    """Bulk-index via the Python client from each partition (no jar
    needed). Each executor opens its own connection; gated when the client
    library is absent (this container), mirroring the source side."""
    if es_client is None and not HAS_ES_CLIENT:
        raise NotImplementedError(
            "the `elasticsearch` client is not installed in this "
            "environment; use write_bulk_files (NDJSON handoff) or "
            "write_es_connector (jar) instead"
        )
    cols = df.columns

    def send(rows) -> None:  # pragma: no cover - needs a live cluster
        from elasticsearch import Elasticsearch as ES
        from elasticsearch.helpers import bulk

        client = es_client or ES()
        actions = (
            {
                "_index": index,
                **({"_id": row[id_col]} if id_col else {}),
                "_source": {c: row[c] for c in cols},
            }
            for row in rows
        )
        bulk(client, actions, chunk_size=chunk_size)

    df.foreachPartition(send)
