"""End-to-end Elasticsearch round trip over a loopback fake ES
(VERDICT r3 item 4): parquet → bulk NDJSON files → ``_bulk`` replay →
``search_after`` re-scan → flatten, with zero third-party installs —
exercising the previously-gated live-protocol tiers of both
sources/elasticsearch.py and sinks/elasticsearch.py for real."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import flatten
from etl_pipeline_for_elasticsearch_json_document_spark.sinks import elasticsearch as es_sink
from etl_pipeline_for_elasticsearch_json_document_spark.sources import elasticsearch as es_src
from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_http import HttpEsClient

from tests.fake_es import start_fake_es


@pytest.fixture()
def fake_es():
    server, base_url = start_fake_es()
    yield base_url
    server.shutdown()
    server.server_close()


def test_parquet_to_bulk_to_rescan_round_trip(spark, sf_dir, fake_es, tmp_path):
    """The full sink→source loop the reference only runs one way: documents
    parquet → write_bulk_files (hard-capped NDJSON) → urllib _bulk replay →
    keyset-paginated re-scan through scan_with_client. Every row survives
    byte-faithfully and pagination pages strictly advance."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = str(tmp_path / "bulk")
    es_sink.write_bulk_files(
        docs.coalesce(2), out, "docs", id_col="doc_id", max_docs_per_file=100
    )
    client = HttpEsClient(fake_es)
    n_files = es_sink.replay_bulk_files(out, fake_es)
    assert n_files >= 5  # 500 docs / ≤100 per file
    assert client.count("docs")["count"] == docs.count()

    base_query = {
        "query": {"match_all": {}},
        "sort": [{"doc_id": "asc"}, {"lang": "asc"}],
        "size": 120,
    }
    pages = list(
        es_src.scan_with_client(
            spark, "docs", base_query, sort_fields=("doc_id", "lang"), es_client=client
        )
    )
    assert len(pages) == 5  # 500 docs / 120 per page, keyset-advanced
    got = pages[0]
    for p in pages[1:]:
        got = got.unionByName(p)
    want = {tuple(r) for r in docs.collect()}
    have = {
        (r["doc_id"], r["lang"], r["source"], r["n_chars"])
        for r in got.collect()
    }
    assert have == want


@pytest.mark.slow
def test_golden_document_flatten_parity_through_fake_es(spark, fake_es, transport_parity_doc):
    """Index a golden-shaped document into the fake cluster, re-scan it
    with search_after, and flatten — the result must be column-for-
    column identical to flattening the document read directly (the
    reference's actual pipeline, now round-tripped through live protocol
    instead of a file)."""
    source, d_cols, d_row = transport_parity_doc
    client = HttpEsClient(fake_es)
    payload = (
        json.dumps({"index": {"_index": "claims", "_id": "g1"}})
        + "\n"
        + json.dumps(source)
        + "\n"
    )
    resp = client.bulk_ndjson(payload)
    assert resp["errors"] is False

    base_query = {
        "query": {"match_all": {}},
        "sort": [
            {"auditProcessedDateTimeUtc": "asc"},
            {"claimRequestId": "asc"},
        ],
        "size": 10,
    }
    pages = list(es_src.scan_with_client(spark, "claims", base_query, es_client=client))
    assert len(pages) == 1
    scanned_flat = flatten(pages[0], bug_compat=True)

    assert scanned_flat.columns == d_cols
    s_row = scanned_flat.collect()[0].asDict()
    diff = {k: (s_row[k], d_row[k]) for k in d_row if s_row[k] != d_row[k]}
    assert not diff, f"{len(diff)} cells differ, e.g. {list(diff.items())[:3]}"


def test_bulk_replay_is_idempotent_upsert(spark, fake_es, tmp_path):
    """Replaying the same bulk files twice (crash-retry of the ingestion
    fleet) must converge, not duplicate — explicit _id makes index actions
    upserts."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, body string"
    )
    out = str(tmp_path / "bulk")
    es_sink.write_bulk_files(df, out, "idem", id_col="doc_id")
    client = HttpEsClient(fake_es)
    es_sink.replay_bulk_files(out, fake_es)
    es_sink.replay_bulk_files(out, fake_es)  # second replay: same state
    assert client.count("idem")["count"] == 3


def _bulk_ids(path: str) -> list[int]:
    """The ``_id`` of every action line in a bulk directory's part files."""
    import glob as _glob
    import os

    ids = []
    for f in _glob.glob(os.path.join(path, "part-*")):
        with open(f) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln]
        ids.extend(int(json.loads(a)["index"]["_id"]) for a in lines[0::2])
    return ids


def test_streaming_export_to_live_fake_cluster(spark, fake_es, tmp_path):
    """The continuous north-star flow: JSON files stream in, each
    micro-batch renders _bulk NDJSON and POSTs it to the (fake) cluster;
    a crash replay of the same lineage upserts, never duplicates."""
    import glob as _glob
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.es_export import (
        run_es_export_stream,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    with open(inp / "a.json", "w") as f:
        for i in range(7):
            f.write(json.dumps({"doc_id": i, "body": f"doc {i}"}) + "\n")
    out = str(tmp_path / "bulk_out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, body string").json(str(inp))
    run_es_export_stream(
        stream, out, "stream_docs", checkpoint_dir=ckpt,
        id_col="doc_id", base_url=fake_es, max_docs_per_file=3,
    ).awaitTermination(600)
    client = HttpEsClient(fake_es)
    assert client.count("stream_docs")["count"] == 7
    dirs = _glob.glob(os.path.join(out, "bulk_epoch*"))
    assert len(dirs) == 1  # one epoch, lineage-scoped name

    # crash replay: same lineage re-delivers epoch 0 -> _id upsert, no dupes
    commits = sorted(_glob.glob(os.path.join(ckpt, "commits", "*")))
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), "." + os.path.basename(commits[-1]) + ".crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    stream = spark.readStream.schema("doc_id long, body string").json(str(inp))
    run_es_export_stream(
        stream, out, "stream_docs", checkpoint_dir=ckpt,
        id_col="doc_id", base_url=fake_es, max_docs_per_file=3,
    ).awaitTermination(600)
    assert client.count("stream_docs")["count"] == 7  # upserted, not doubled
    # the replay rewrote its own epoch directory: still one, still 7 docs
    dirs = _glob.glob(os.path.join(out, "bulk_epoch*"))
    assert len(dirs) == 1
    assert sorted(_bulk_ids(dirs[0])) == list(range(7))

    # re-scan what the cluster holds and check content survived
    base_query = {"query": {"match_all": {}},
                  "sort": [{"doc_id": "asc"}, {"body": "asc"}], "size": 10}
    pages = list(
        es_src.scan_with_client(
            spark, "stream_docs", base_query, sort_fields=("doc_id", "body"),
            es_client=client,
        )
    )
    got = sorted(r["body"] for p in pages for r in p.collect())
    assert got == [f"doc {i}" for i in range(7)]


def test_streaming_export_second_lineage_keeps_first_lineage_output(spark, tmp_path):
    """A fresh checkpoint restarts at epoch 0. Its new data must land in
    its own directory next to the first lineage's, never over it: the
    directory name carries the checkpoint lineage."""
    import glob as _glob
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.es_export import (
        run_es_export_stream,
    )

    out = str(tmp_path / "bulk_out")
    for lineage, ids in (("a", [1, 2]), ("b", [3])):
        inp = tmp_path / f"in_{lineage}"
        inp.mkdir()
        with open(inp / "part.json", "w") as f:
            for i in ids:
                f.write(json.dumps({"doc_id": i, "body": f"doc {i}"}) + "\n")
        stream = spark.readStream.schema("doc_id long, body string").json(str(inp))
        run_es_export_stream(
            stream, out, "lineage_docs", id_col="doc_id",
            checkpoint_dir=str(tmp_path / f"ckpt_{lineage}"),
        ).awaitTermination(600)

    dirs = sorted(_glob.glob(os.path.join(out, "bulk_epoch*")))
    assert len(dirs) == 2
    assert all(os.path.basename(d).startswith("bulk_epoch000000_") for d in dirs)
    assert sorted(sorted(_bulk_ids(d)) for d in dirs) == [[1, 2], [3]]


def test_write_bulk_files_overwrite_clears_stale_parts(spark, fake_es, tmp_path):
    """A second write_bulk_files into the same directory must leave NO
    part files from the first — an ingest fleet replaying the directory
    would otherwise ship stale bulk payloads alongside the new ones."""
    import os

    out = str(tmp_path / "ow")
    big = spark.createDataFrame(
        [(i, f"old {i}") for i in range(10)], "doc_id long, body string"
    ).repartition(4)
    es_sink.write_bulk_files(big, out, "ow_docs", id_col="doc_id")
    first_parts = {f for f in os.listdir(out) if f.startswith("part-")}
    assert len(first_parts) >= 2
    small = spark.createDataFrame([(100, "new")], "doc_id long, body string").coalesce(1)
    es_sink.write_bulk_files(small, out, "ow_docs", id_col="doc_id")
    parts = {f for f in os.listdir(out) if f.startswith("part-")}
    assert parts and not (parts & first_parts)  # every stale part removed
    # replaying the dir now ships ONLY the new write
    es_sink.replay_bulk_files(out, fake_es)
    client = HttpEsClient(fake_es)
    assert client.count("ow_docs")["count"] == 1


def test_bulk_replay_retries_throttled_cluster(spark, tmp_path):
    """A loaded cluster 429s bulk requests routinely: the replayer must
    back off and retry (replays upsert by _id, so a re-POST after partial
    application converges), and give up with the real error once retries
    are exhausted."""
    import urllib.error

    server, base_url = start_fake_es()
    try:
        state = server.RequestHandlerClass.state
        df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, body string")
        out = str(tmp_path / "bulk")
        es_sink.write_bulk_files(df, out, "throt", id_col="doc_id")
        client = HttpEsClient(base_url)

        state.throttle_next_bulks = 2  # first two POSTs rejected with 429
        payload = ""
        for f in sorted(__import__("glob").glob(out + "/part-*")):
            with open(f) as fh:
                payload += fh.read()  # concatenated NDJSON stays valid _bulk
        resp = client.bulk_ndjson(payload, retries=3, backoff=0.05)
        assert resp["errors"] is False  # retried through the throttling
        assert client.count("throt")["count"] >= 1

        state.throttle_next_bulks = 10  # more 429s than retries -> surfaces
        with pytest.raises(urllib.error.HTTPError):
            client.bulk_ndjson(payload, retries=1, backoff=0.01)
    finally:
        server.shutdown()
        server.server_close()


def test_search_retries_throttled_cluster(spark, tmp_path):
    """The READ side gets the same throttled-cluster discipline: one
    rejected page must not kill a whole sliced scan. _request retries
    429/503 with backoff and surfaces the error once retries run out."""
    import urllib.error

    server, base_url = start_fake_es()
    try:
        state = server.RequestHandlerClass.state
        df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, body string")
        out = str(tmp_path / "bulk")
        es_sink.write_bulk_files(df, out, "sthrot", id_col="doc_id")
        es_sink.replay_bulk_files(out, base_url)
        client = HttpEsClient(base_url)

        state.throttle_next_searches = 2  # first two searches 429
        resp = client.search("sthrot", {"size": 10, "sort": ["doc_id"]})
        assert len(resp["hits"]["hits"]) == 2  # retried through the 429s

        state.throttle_next_searches = 10  # exhausts retries -> surfaces
        with pytest.raises(urllib.error.HTTPError):
            client._request(
                "POST", "/sthrot/_search", b"{}", "application/json",
                retries=1, backoff=0.01,
            )
    finally:
        server.shutdown()
        server.server_close()
