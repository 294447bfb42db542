"""Python DataSource (Spark 4) tests: the es_envelope source reads search
envelopes distributed (one partition per file), surfaces cursor fields,
and feeds the flatten planner."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten
from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_datasource import (
    EsEnvelopeDataSource,
)

def _envelope(doc_ids):
    return {
        "hits": {
            "hits": [
                {
                    "_index": "rta_claim_headers-000001",
                    "_id": f"id{i}",
                    "_source": {
                        "claimRequestId": i,
                        "auditProcessedDateTimeUtc": f"2025-06-01T00:00:{i:02d}",
                        "charge": 10.5 * i,
                    },
                }
                for i in doc_ids
            ]
        }
    }


def test_es_envelope_reads_golden(spark, golden_doc):
    spark.dataSource.register(EsEnvelopeDataSource)
    df = spark.read.format("es_envelope").load(golden_doc)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["_index"].startswith("rta_claim_headers-")
    assert rows[0]["sort_id"] is not None
    assert json.loads(rows[0]["source_json"])["claimRequestId"]


def test_es_envelope_partition_per_file(spark, tmp_path):
    spark.dataSource.register(EsEnvelopeDataSource)
    for b, ids in enumerate([(1, 2), (3,), (4, 5, 6)]):
        (tmp_path / f"batch{b}.json").write_text(json.dumps(_envelope(ids)))
    df = spark.read.format("es_envelope").load(str(tmp_path))
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 6
    got = sorted(int(r) for r in (row["sort_id"] for row in df.collect()))
    assert got == [1, 2, 3, 4, 5, 6]


def test_es_envelope_feeds_flatten(spark, tmp_path):
    spark.dataSource.register(EsEnvelopeDataSource)
    (tmp_path / "b.json").write_text(json.dumps(_envelope([7, 8])))
    raw = spark.read.format("es_envelope").load(str(tmp_path))
    docs = spark.read.json(
        raw.select("source_json").rdd.map(lambda r: r.source_json)
    )
    out = flatten(docs)
    assert out.count() == 2
    assert "ClaimRequestId" in out.columns
    vals = sorted(r["ClaimRequestId"] for r in out.collect())
    assert vals == ["7", "8"]
