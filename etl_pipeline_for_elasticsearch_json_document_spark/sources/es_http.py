"""Dependency-free HTTP Elasticsearch client (stdlib urllib only).

The reference talks to ES through the official Python client
(``ElasticSearch ETL.py:214-267``); that library is not installable in
every environment, but the subset of its surface the pipeline actually
uses — ``search`` (with ``search_after``), ``count``, and ``bulk`` — is
three JSON-over-HTTP calls. This shim speaks that REST protocol directly,
so :func:`~.elasticsearch.scan_with_client` and the bulk-file replay path
run end-to-end against any ES-compatible endpoint (or the loopback fake
in ``tests/fake_es.py``) with zero third-party installs.

Duck-typing contract: only the keyword signatures used by this package
(``search(index=, body=)`` / ``count(index=, body=)``) plus
``bulk_ndjson`` for raw ``_bulk`` payload replay.

:class:`SearchAfterScan` is the reference's ``search_after`` page loop
over this client, shared by the two HTTP sources: the sliced ``es_live``
batch read (:mod:`.es_live`) and the ``es_tail`` stream (:mod:`.es_stream`).
Both take the same five options from it and emit :func:`hit_row` rows
under :data:`HIT_SCHEMA`.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Any, Iterator, Optional

#: one row per search hit; ``source_json`` feeds the flatten planner
#: exactly like the envelope reader's column
HIT_SCHEMA = "_index string, _id string, sort_json string, source_json string"


class HttpEsClient:
    """Minimal ES REST client over ``urllib`` (driver-side pagination /
    bulk replay; no connection pooling — one request per call)."""

    def __init__(self, base_url: str, timeout: float = 30.0) -> None:
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout

    def _request(
        self,
        method: str,
        path: str,
        body: Optional[bytes],
        content_type: str,
        retries: int = 3,
        backoff: float = 0.5,
    ) -> dict[str, Any]:
        """One HTTP call, retrying 429/503 with exponential backoff — the
        one throttled-cluster loop for every call, search pages and bulk
        replay alike: without it one rejected page kills a whole sliced
        scan. Anything else (4xx protocol errors) raises immediately —
        those are caller bugs, not load."""
        import time
        import urllib.error

        req = urllib.request.Request(
            self.base_url + path,
            data=body,
            method=method,
            headers={"Content-Type": content_type},
        )
        attempt = 0
        while True:
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return json.loads(resp.read().decode("utf-8"))
            except urllib.error.HTTPError as e:
                if e.code not in (429, 503) or attempt >= retries:
                    raise
                time.sleep(backoff * (2**attempt))
                attempt += 1

    def _post_json(self, path: str, body: dict[str, Any]) -> dict[str, Any]:
        return self._request(
            "POST", path, json.dumps(body).encode("utf-8"), "application/json"
        )

    def search(self, index: str, body: dict[str, Any]) -> dict[str, Any]:
        """``POST /{index}/_search`` — same envelope the official client
        returns (``hits.hits[*]._source``), so callers are tier-agnostic."""
        return self._post_json(f"/{index}/_search", body)

    def search_pit(self, body: dict[str, Any]) -> dict[str, Any]:
        """``POST /_search`` (no index in the path — the PIT id in the body
        already pins the index + snapshot, and real ES rejects an index
        path combined with a ``pit`` clause)."""
        return self._post_json("/_search", body)

    def open_pit(self, index: str, keep_alive: str = "2m") -> str:
        """``POST /{index}/_pit?keep_alive=...`` → the point-in-time id.
        A PIT freezes the visible doc set, which is what makes SLICED reads
        of a live index consistent: real ES only honors ``slice`` on a PIT
        or scroll context, and concurrent writes during a sliced read would
        otherwise tear across pages."""
        return self._request(
            "POST", f"/{index}/_pit?keep_alive={keep_alive}", None, "application/json"
        )["id"]

    def close_pit(self, pit_id: str) -> None:
        """``DELETE /_pit`` — free the snapshot's server-side resources
        (PITs also auto-expire after ``keep_alive``)."""
        self._request(
            "DELETE", "/_pit", json.dumps({"id": pit_id}).encode("utf-8"),
            "application/json",
        )

    def count(self, index: str, body: Optional[dict[str, Any]] = None) -> dict[str, Any]:
        """``POST /{index}/_count`` → ``{"count": N}`` (reference's
        total-documents pre-check)."""
        return self._post_json(f"/{index}/_count", body or {})

    def mapping(self, index: str) -> dict[str, Any]:
        """``GET /{index}/_mapping`` — the index's field-type mapping
        (the schema source for :mod:`.es_mapping`)."""
        return self._request("GET", f"/{index}/_mapping", None, "application/json")

    def bulk_ndjson(
        self,
        payload: str,
        index: Optional[str] = None,
        retries: int = 3,
        backoff: float = 0.5,
    ) -> dict[str, Any]:
        """``POST /_bulk`` with a ready NDJSON payload (the exact file
        format :func:`~.sinks.elasticsearch.write_bulk_files` emits).

        Retries 429/503 through :meth:`_request` — a loaded cluster
        throttles bulk ingest routinely, and because replayed ``index``
        actions with explicit ``_id`` upsert, re-POSTing a partially
        applied payload converges rather than duplicating."""
        path = f"/{index}/_bulk" if index else "/_bulk"
        if not payload.endswith("\n"):
            payload += "\n"  # _bulk requires a trailing newline
        return self._request(
            "POST", path, payload.encode("utf-8"), "application/x-ndjson",
            retries, backoff,
        )


def hit_row(hit: dict[str, Any]) -> tuple:
    """One search hit as a :data:`HIT_SCHEMA` row."""
    return (
        hit.get("_index"),
        str(hit.get("_id")) if hit.get("_id") is not None else None,
        json.dumps(hit.get("sort")),
        json.dumps(hit.get("_source")),
    )


class SearchAfterScan:
    """The reference's ``search_after`` page loop (``ElasticSearch
    ETL.py:220-267``) over one index, configured by the options both HTTP
    sources accept: ``url``, ``index``, ``page_size``, ``sort`` (comma-
    separated fields, ascending) and ``query`` (JSON)."""

    def __init__(self, options, source: str) -> None:
        self.url = options.get("url")
        if not self.url:
            raise ValueError(f"{source} requires .option('url', 'http://host:9200')")
        self.index = options.get("index")
        if not self.index:
            raise ValueError(f"{source} requires .option('index', <es index name>)")
        self.page_size = int(options.get("page_size", "1000"))
        self.sort_fields = [
            s.strip()
            for s in options.get("sort", "auditProcessedDateTimeUtc,claimRequestId").split(",")
            if s.strip()
        ]
        self.query = json.loads(options.get("query", '{"match_all": {}}'))

    def pages(
        self, after: Optional[list[Any]] = None, clauses: Optional[dict[str, Any]] = None
    ) -> Iterator[list[dict[str, Any]]]:
        """Yield the hits one page at a time, starting after the sort
        tuple ``after`` (exclusive); stop on an empty or a short page.
        ``clauses`` join every request body; a body with a ``pit`` clause
        goes to ``search_pit``. The client is built here, per call, so a
        scan pickled to an executor never ships a connection."""
        client = HttpEsClient(self.url)
        base = {
            "query": self.query,
            "sort": [{f: "asc"} for f in self.sort_fields],
            "size": self.page_size,
            **(clauses or {}),
        }
        while True:
            body = base if after is None else {**base, "search_after": after}
            if "pit" in body:
                hits = client.search_pit(body)["hits"]["hits"]
            else:
                hits = client.search(index=self.index, body=body)["hits"]["hits"]
            if not hits:
                return
            yield hits
            after = hits[-1]["sort"]
            if len(hits) < self.page_size:
                return
