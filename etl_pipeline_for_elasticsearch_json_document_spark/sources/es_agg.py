"""Source-side aggregation pushdown: ship the groupBy to the cluster.

The reference pushes exactly one aggregate to Elasticsearch — COUNT
(`ElasticSearch ETL.py:214`: ``ES.count(...)["count"]``). This module
generalizes it to the ES aggregations DSL: a terms, composite,
histogram, date_histogram or range bucket agg with metric sub-aggs runs
ON the cluster, and only the bucket relation — |buckets| rows, not
|documents| — crosses the wire into a DataFrame. Every family builds its
one size-0 request with :func:`_search_agg` and decodes each bucket to
``(<keys...>, doc_count, <metrics...>)`` with :func:`_bucket_row`.

Pushing wins when the bucket cardinality is small relative to the
corpus; scanning (sources/es_live.py) wins near row granularity. The
four ``scan_or_push*`` choosers probe the cardinality and share one
tail, :func:`_push_or_scan`: push, or group the caller's scan to the
same schema (dropping null group keys, which ES never buckets), or fail
loudly when the scan wins but none was given. tests/test_es_agg.py pins
the parity of the two paths. The corpus never flows through the driver:
each ``_search`` is one bounded response, and unbounded group-bys page
through :func:`es_composite_agg`.
"""

from __future__ import annotations

import functools
import math
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_http import HttpEsClient

#: metric name -> Spark SQL type of the returned value column.
#: ``cardinality`` is ES's HLL++ distinct count: EXACT up to the shipped
#: ``precision_threshold`` (we send the max, 40000), approximate beyond it
#: (documented ES behavior; the single-shard test fake is always exact) —
#: the pushdown twin of q87's approx_count_distinct, with the same
#: "sketch, not a promise" contract.
_METRICS = {"sum": "double", "avg": "double", "min": "double", "max": "double",
            "value_count": "long", "cardinality": "long"}

#: conservative per-month bucket multipliers for estimating a finer
#: calendar interval's cardinality from a month-granularity probe; the
#: keys are the calendar intervals both real ES and the test fake model
_BUCKETS_PER_MONTH = {"month": 1, "day": 31, "hour": 31 * 24}

#: ES's own search.max_buckets default — a pushed date_histogram or
#: histogram returns ALL its buckets in one un-paged response, so past
#: this the cluster refuses anyway; the choosers treat it as a hard
#: push ceiling.
_MAX_PUSH_BUCKETS = 65_536

#: :func:`scan_or_push`'s keys-only composite probe: at most
#: ``_PROBE_PAGES`` pages of ``_PROBE_PAGE_SIZE`` buckets.
_PROBE_PAGE_SIZE = 500
_PROBE_PAGES = 2

Metrics = Optional[dict[str, tuple[str, str]]]


def _check_metrics(metrics: Metrics) -> dict[str, tuple[str, str]]:
    metrics = metrics or {}
    for name, (mtype, _) in metrics.items():
        if mtype not in _METRICS:
            raise ValueError(f"unsupported metric {mtype!r} for {name!r}")
    return metrics


def _check_ranges(ranges: list[dict[str, float]]) -> None:
    if not ranges:
        raise ValueError("ranges must be non-empty")
    for r in ranges:
        if not set(r) <= {"from", "to"}:
            raise ValueError(f"range {r!r} must use only 'from'/'to'")
        if not r:
            raise ValueError("a range needs at least one of 'from'/'to'")


def _check_interval(calendar_interval: str) -> None:
    if calendar_interval not in _BUCKETS_PER_MONTH:
        raise ValueError(
            f"unsupported calendar_interval {calendar_interval!r}; "
            "use 'hour', 'day' or 'month'"
        )


def _metric_body(mtype: str, mfield: str) -> dict[str, Any]:
    if mtype == "cardinality":
        return {mtype: {"field": mfield, "precision_threshold": 40000}}
    return {mtype: {"field": mfield}}


def _search_agg(
    client: HttpEsClient,
    index: str,
    bucket: dict[str, Any],
    metrics: dict[str, tuple[str, str]],
    query: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """One ``size: 0`` search of the bucket agg ``g`` (``bucket`` is its
    ``{"terms": ...}``-style body) with ``metrics`` as sub-aggs and the
    optional pre-bucket ``query``; returns ``aggregations.g``."""
    g = dict(bucket)
    if metrics:
        g["aggs"] = {
            name: _metric_body(mtype, mfield) for name, (mtype, mfield) in metrics.items()
        }
    body: dict[str, Any] = {"size": 0, "aggs": {"g": g}}
    if query is not None:
        body["query"] = query
    return client.search(index, body)["aggregations"]["g"]


def _metric_values(metrics: dict[str, tuple[str, str]], b: dict[str, Any]) -> list:
    # ES renders integral sums/extrema as ints; the schema is typed
    vals = []
    for name, (mtype, _) in metrics.items():
        v = b[name]["value"]
        if v is not None:
            v = float(v) if _METRICS[mtype] == "double" else int(v)
        vals.append(v)
    return vals


def _bucket_row(key: list, b: dict[str, Any], metrics: dict[str, tuple[str, str]]) -> tuple:
    return tuple(key + [int(b["doc_count"])] + _metric_values(metrics, b))


def _schema(key_schema: str, metrics: dict[str, tuple[str, str]]) -> str:
    return f"{key_schema}, doc_count long" + "".join(
        f", {name} {_METRICS[mtype]}" for name, (mtype, _) in metrics.items()
    )


def _bucket_frame(spark: SparkSession, key_schema: str, metrics: dict[str, tuple[str, str]],
                  agg: dict[str, Any], key: Callable[[dict[str, Any]], list]) -> DataFrame:
    """The one-response families' relation: ``key(bucket)`` per bucket."""
    rows = [_bucket_row(key(b), b, metrics) for b in agg["buckets"]]
    return spark.createDataFrame(rows, _schema(key_schema, metrics))


def es_terms_agg(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    metrics: Metrics = None,
    size: int = 1000,
    query: Optional[dict[str, Any]] = None,
    shard_size: Optional[int] = None,
    allow_approximate: bool = False,
) -> DataFrame:
    """Terms aggregation on ``field`` pushed to ES; returns a DataFrame
    ``(key string, doc_count long, <metric columns...>)``.

    ``metrics`` maps an output column to ``(agg_type, field)``, e.g.
    ``{"total": ("sum", "amount"), "peak": ("max", "amount")}``.

    **Exactness**: on a multi-shard index, terms aggregations are
    APPROXIMATE — each shard reports only its local top ``shard_size``
    terms, so global doc_counts can undercount and the top-``size`` set
    itself can be wrong (the single-shard test fake is always exact).
    This pushdown therefore (a) ships an explicit ``shard_size``
    (default ``size * 1.5 + 10``, ES's own heuristic, raise it for
    skewed term distributions) and (b) reads the response's
    ``doc_count_error_upper_bound`` and REFUSES a result with a nonzero
    bound unless ``allow_approximate=True``. Exactness-sensitive
    group-bys should use :func:`es_composite_agg`, which enumerates
    every bucket exactly via after-key paging.
    """
    metrics = _check_metrics(metrics)
    if shard_size is None:
        shard_size = int(size * 1.5) + 10  # ES's own default heuristic
    terms = {"field": field, "size": size, "shard_size": shard_size}
    agg = _search_agg(HttpEsClient(base_url), index, {"terms": terms}, metrics, query)
    err_bound = int(agg.get("doc_count_error_upper_bound", 0))
    if err_bound > 0 and not allow_approximate:
        raise RuntimeError(
            f"terms agg on {index}.{field} is approximate on this cluster "
            f"(doc_count_error_upper_bound={err_bound}); raise shard_size, "
            "pass allow_approximate=True, or use es_composite_agg for an "
            "exact multi-shard group-by"
        )
    return _bucket_frame(spark, "key string", metrics, agg, lambda b: [str(b["key"])])


def _composite_pages(
    client: HttpEsClient,
    index: str,
    fields: list[str],
    metrics: dict[str, tuple[str, str]],
    page_size: int,
    query: Optional[dict[str, Any]] = None,
):
    """Yield ``aggregations.g`` of each composite page, following
    ``after_key`` until the cluster returns none."""
    sources = [{f: {"terms": {"field": f}}} for f in fields]
    after: Optional[dict[str, Any]] = None
    while True:
        comp: dict[str, Any] = {"sources": sources, "size": page_size}
        if after is not None:
            comp["after"] = after
        agg = _search_agg(client, index, {"composite": comp}, metrics, query)
        yield agg
        after = agg.get("after_key")
        if after is None:
            return


def es_composite_agg(
    spark: SparkSession,
    base_url: str,
    index: str,
    fields: list[str],
    metrics: Metrics = None,
    page_size: int = 500,
    max_pages: int = 10_000,
    flush_rows: int = 100_000,
    query: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Multi-key group-by pushed down via ES *composite* aggregation —
    the UNBOUNDED-cardinality path: buckets stream out in
    after-key-cursored pages (exactly the keyset discipline of
    sources/keyset.py, applied to groups instead of documents), so the
    bucket count never has to fit one response.

    Returns ``(<field columns...> string, doc_count long,
    <metric columns...>)``. Each page is a bounded driver fetch; the
    accumulated relation is |groups| rows. ``max_pages`` is the runaway
    guard — a group-by whose cardinality approaches the corpus size
    should be a scan (sources/es_live.py), not a pushdown; that is a
    query-planning decision (see :func:`scan_or_push`), and this cap
    makes the wrong choice loud instead of slow.

    **Driver-memory bound**: pages are flushed out of the Python buffer
    into a (lazy, Arrow-backed) DataFrame chunk every ``flush_rows``
    buckets and the chunks unioned, so the driver holds at most
    ``flush_rows`` raw tuples at any moment — NOT the full
    ``max_pages × page_size`` worst case (5M tuples at the defaults).
    """
    metrics = _check_metrics(metrics)
    client = HttpEsClient(base_url)
    schema = _schema(", ".join(f"{f} string" for f in fields), metrics)
    rows: list[tuple] = []
    chunks: list[DataFrame] = []
    pages = _composite_pages(client, index, fields, metrics, page_size, query)
    for n, agg in enumerate(pages, 1):
        rows.extend(
            _bucket_row([str(b["key"][f]) for f in fields], b, metrics)
            for b in agg["buckets"]
        )
        if len(rows) >= flush_rows:
            chunks.append(spark.createDataFrame(rows, schema))
            rows.clear()
        if agg.get("after_key") is not None and n >= max_pages:
            raise RuntimeError(
                f"composite agg exceeded {max_pages} pages — this group-by's "
                "cardinality wants the scan path, not a pushdown"
            )
    if rows or not chunks:
        chunks.append(spark.createDataFrame(rows, schema))
    return functools.reduce(DataFrame.unionByName, chunks)


def es_histogram_agg(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    interval: float,
    metrics: Metrics = None,
    query: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Numeric histogram pushed to ES: fixed-``interval`` buckets keyed by
    ``floor(value/interval)*interval`` (ES's own bucket key), with the
    same metric sub-aggs as :func:`es_terms_agg`. Returns
    ``(bucket double, doc_count long, <metrics...>)`` — the distribution
    sketch (q79's histogram shape) computed where the data lives; only
    range/interval buckets cross the wire."""
    metrics = _check_metrics(metrics)
    hist = {"histogram": {"field": field, "interval": interval}}
    agg = _search_agg(HttpEsClient(base_url), index, hist, metrics, query)
    return _bucket_frame(spark, "bucket double", metrics, agg, lambda b: [float(b["key"])])


def es_date_histogram_agg(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    calendar_interval: str = "day",
    metrics: Metrics = None,
    query: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Calendar-bucketed time histogram pushed to ES — the Kibana-style
    "daily counts over an events index" shape (q79/q126's time buckets),
    computed where the data lives: only |days| rows cross the wire.

    ``calendar_interval`` ∈ {'hour', 'day', 'month'} (the subset both
    real ES and the test fake model; anything else is refused loudly
    here, before a request is made). Returns ``(bucket string,
    doc_count long, <metrics...>)`` where ``bucket`` is the server's
    ``key_as_string`` truncated timestamp — exactly
    ``date_format(date_trunc(interval, ts), ...)`` of a scan+groupBy,
    which the parity test pins. Exact on any shard count: date_histogram
    buckets are disjoint ranges, so per-shard partials merge losslessly
    (unlike terms' shard-local top-N — see :func:`es_terms_agg`).
    """
    _check_interval(calendar_interval)
    metrics = _check_metrics(metrics)
    dhist = {"date_histogram": {"field": field, "calendar_interval": calendar_interval}}
    agg = _search_agg(HttpEsClient(base_url), index, dhist, metrics, query)
    return _bucket_frame(
        spark, "bucket string", metrics, agg,
        lambda b: [str(b.get("key_as_string", b["key"]))],
    )


def es_range_agg(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    ranges: list[dict[str, float]],
    metrics: Metrics = None,
    query: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Range-facet aggregation pushed to ES: caller-defined half-open
    buckets ``[from, to)`` over a numeric field — the faceted-navigation
    shape (price bands, length bands). Each range is
    ``{"from": x, "to": y}`` with either edge optional (open-ended).
    Returns ``(range_from double, range_to double, doc_count long,
    <metrics...>)`` with null for an open edge; docs outside every range
    simply don't count (ES semantics). Exact on any shard count — ranges
    are fixed disjoint predicates, per-shard partials merge losslessly.
    """
    _check_ranges(ranges)
    metrics = _check_metrics(metrics)
    rng = {"range": {"field": field, "ranges": ranges}}
    agg = _search_agg(HttpEsClient(base_url), index, rng, metrics, query)

    def edges(b: dict[str, Any]) -> list:
        return [None if b.get(e) is None else float(b[e]) for e in ("from", "to")]

    return _bucket_frame(spark, "range_from double, range_to double", metrics, agg, edges)


#: metric name -> the Spark aggregate the scan branches compute for it
_SCAN_AGGS = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
              "value_count": F.count, "cardinality": F.countDistinct}


def _scan_metric_aggs(
    metrics: dict[str, tuple[str, str]], empty_bucket_zero_sum: bool = False
) -> list:
    """The scan-branch Spark twins of the pushed metric sub-aggs — shared
    by every scan_or_push_* chooser so the two branches of each keep the
    same output schema. ``empty_bucket_zero_sum`` is the RANGE family's
    empty-bucket convention (ADVICE r9): ES reports ``sum = 0.0`` over a
    bucket with no docs, while Spark's F.sum over the left join's zero
    matched rows yields NULL — only the range scan can produce such
    buckets (the groupBy families emit buckets only where rows exist),
    and avg/min/max stay NULL on both engines."""
    aggs = []
    for name, (mtype, mfield) in metrics.items():
        col = _SCAN_AGGS[mtype](mfield)
        if _METRICS[mtype] == "double":
            col = col.cast("double")
        if mtype == "sum" and empty_bucket_zero_sum:
            col = F.coalesce(col, F.lit(0.0))
        aggs.append(col.alias(name))
    return aggs


def _group_scan(
    df: DataFrame, fields: list[str], keys: list[Column], metrics: dict[str, tuple[str, str]]
) -> DataFrame:
    """The groupBy families' scan branch: drop rows where any of
    ``fields`` is null (ES buckets no missing value), then group by
    ``keys`` to the pushed ``(<keys...>, doc_count, <metrics...>)``."""
    for f in fields:
        df = df.filter(F.col(f).isNotNull())
    return df.groupBy(*keys).agg(F.count("*").alias("doc_count"), *_scan_metric_aggs(metrics))


def _push_or_scan(
    push: bool,
    do_push: Callable[[], DataFrame],
    scan: Optional[Callable[[], DataFrame]],
    group: Callable[[DataFrame], DataFrame],
    what: str,
) -> DataFrame:
    """Every chooser's tail: the pushdown, or ``group(scan())`` — never a
    silent fallback to the pushdown just ruled out when ``scan`` is
    None. ``what`` states the probed cardinality for that error."""
    if push:
        return do_push()
    if scan is None:
        raise ValueError(
            f"{what} — the scan path wins, but no scan callable was "
            "provided (pass scan=lambda: <es_live read>)"
        )
    return group(scan())


def _doc_budget(client: HttpEsClient, index: str, ratio: float) -> tuple[int, float]:
    """``(n_docs, ratio × n_docs)``: the corpus ``_count`` (the
    reference's own pushed primitive) and the push threshold."""
    n_docs = int(client.count(index)["count"])
    return n_docs, ratio * max(n_docs, 1)


def scan_or_push(
    spark: SparkSession,
    base_url: str,
    index: str,
    fields: list[str],
    metrics: Metrics = None,
    scan: Optional[Callable[[], DataFrame]] = None,
    push_cardinality_ratio: float = 0.5,
    page_size: int = 500,
    max_pages: int = 10_000,
) -> DataFrame:
    """The pushdown-vs-scan chooser for the terms/composite family.

    Probe: one ``_count`` plus up to ``_PROBE_PAGES`` composite pages
    WITHOUT metrics (keys only, the cheap shape). If the probe exhausts
    the buckets, cardinality is known exactly; push iff it is below
    ``push_cardinality_ratio`` of the corpus. If the probe does NOT
    exhaust, the group count exceeds ``_PROBE_PAGES × _PROBE_PAGE_SIZE``;
    if even that lower bound is already ≥ the ratio, the group-by
    approaches row granularity and a pushdown would ship ~the corpus
    through bucket pages — scan instead. Otherwise push via
    :func:`es_composite_agg` (whose ``max_pages`` cap stays as the loud
    runaway backstop).

    ``scan`` is a zero-arg callable returning the scanned corpus
    DataFrame (e.g. a sources/es_live.py read); the scan branch groups
    it to the push branch's ``(<fields...> string, doc_count,
    <metrics...>)``, so callers are branch-agnostic.
    """
    metrics = _check_metrics(metrics)
    client = HttpEsClient(base_url)
    n_docs, budget = _doc_budget(client, index, push_cardinality_ratio)
    seen, exhausted = 0, False
    probe = _composite_pages(client, index, fields, {}, _PROBE_PAGE_SIZE)
    for n, agg in enumerate(probe, 1):
        seen += len(agg["buckets"])
        exhausted = agg.get("after_key") is None
        if n == _PROBE_PAGES:
            break
    push = seen <= budget if exhausted else seen < budget
    return _push_or_scan(
        push,
        lambda: es_composite_agg(
            spark, base_url, index, fields, metrics,
            page_size=page_size, max_pages=max_pages,
        ),
        scan,
        lambda df: _group_scan(
            df, fields, [F.col(f).cast("string").alias(f) for f in fields], metrics
        ),
        f"group-by on {fields} over {index} has "
        f"{'exactly ' if exhausted else '>'}{seen} buckets vs {n_docs} docs",
    )


def scan_or_push_date_histogram(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    calendar_interval: str = "day",
    metrics: Metrics = None,
    scan: Optional[Callable[[], DataFrame]] = None,
    push_cardinality_ratio: float = 0.5,
) -> DataFrame:
    """:func:`scan_or_push` for the date_histogram family.

    Probe: one keys-only MONTH-granularity date_histogram (months span
    decades in hundreds of buckets, so the probe itself is always a
    bounded fetch) plus the corpus ``_count``. The requested interval's
    bucket cardinality is then bounded above by ``months ×
    buckets/month`` (31 days, 744 hours — calendar worst case). Push iff
    that UPPER bound stays under both ``push_cardinality_ratio × docs``
    and ``_MAX_PUSH_BUCKETS`` (a date_histogram response is un-paged, so
    ES's search.max_buckets is a hard ceiling, unlike the composite
    family's cursored pages). The bound overestimates sparse timelines
    by up to ~2-3×, which errs toward the scan — the safe direction: a
    wrongly-chosen scan is slower, a wrongly-chosen push is a refused
    response or a driver-side bucket flood.

    The scan branch groups the scanned corpus by the SAME truncated
    timestamp rendering the push path returns (``key_as_string`` of the
    bulk-ingest serialization), so callers are branch-agnostic.
    """
    _check_interval(calendar_interval)
    metrics = _check_metrics(metrics)
    client = HttpEsClient(base_url)
    n_docs, budget = _doc_budget(client, index, push_cardinality_ratio)
    month = {"date_histogram": {"field": field, "calendar_interval": "month"}}
    n_months = len(_search_agg(client, index, month, {})["buckets"])
    upper = n_months * _BUCKETS_PER_MONTH[calendar_interval]
    cut = {"month": 7, "day": 10, "hour": 13}[calendar_interval]
    return _push_or_scan(
        upper <= budget and upper <= _MAX_PUSH_BUCKETS,
        lambda: es_date_histogram_agg(
            spark, base_url, index, field, calendar_interval, metrics
        ),
        scan,
        lambda df: _group_scan(
            df, [field], [F.substring(F.col(field).cast("string"), 1, cut).alias("bucket")],
            metrics,
        ),
        f"date_histogram({calendar_interval}) on {index}.{field} spans "
        f"{n_months} months (≤{upper} buckets) vs {n_docs} docs",
    )


def scan_or_push_range(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    ranges: list[dict[str, float]],
    metrics: Metrics = None,
    scan: Optional[Callable[[], DataFrame]] = None,
    push_cardinality_ratio: float = 0.5,
) -> DataFrame:
    """:func:`scan_or_push` for the range family. The bucket cardinality
    is the caller's own ``len(ranges)``, so the only probe is the corpus
    ``_count``; the scan branch serves the degenerate per-row banding
    (more ranges than the ratio allows).

    The scan branch joins the corpus to the K-row literal range relation
    on the band condition — a broadcast nested-loop whose build side is
    the caller's own range list (the sanctioned bounded-broadcast
    shape), then groups by range. ES counts every given range even when
    empty, and ranges may OVERLAP (each counts independently) — the
    left join from the range side reproduces both.
    """
    _check_ranges(ranges)
    metrics = _check_metrics(metrics)
    n_docs, budget = _doc_budget(HttpEsClient(base_url), index, push_cardinality_ratio)

    def group(df: DataFrame) -> DataFrame:
        bands = spark.createDataFrame(
            [(r.get("from"), r.get("to")) for r in ranges],
            "range_from double, range_to double",
        )
        v = F.col("__v")
        cond = (
            v.isNotNull()
            & (F.col("range_from").isNull() | (v >= F.col("range_from")))
            & (F.col("range_to").isNull() | (v < F.col("range_to")))
        )
        joined = F.broadcast(bands).join(
            df.withColumn("__v", F.col(field).cast("double")), cond, "left"
        )
        return joined.groupBy("range_from", "range_to").agg(
            F.count("__v").alias("doc_count"),
            *_scan_metric_aggs(metrics, empty_bucket_zero_sum=True),
        )

    return _push_or_scan(
        len(ranges) <= budget,
        lambda: es_range_agg(spark, base_url, index, field, ranges, metrics),
        scan,
        group,
        f"range agg on {index}.{field} has {len(ranges)} buckets vs {n_docs} docs",
    )


def es_field_stats(
    base_url: str, index: str, field: str, query: Optional[dict[str, Any]] = None
) -> tuple[Optional[float], Optional[float]]:
    """(min, max) of a numeric field via two top-level metric aggs — one
    bounded ``_search``, the planners' span probe (both real ES and the
    test fake serve bare metric aggs). (None, None) on an empty field."""
    body: dict[str, Any] = {
        "size": 0,
        "aggs": {"lo": {"min": {"field": field}}, "hi": {"max": {"field": field}}},
    }
    if query is not None:
        body["query"] = query
    aggs = HttpEsClient(base_url).search(index, body)["aggregations"]
    lo, hi = (aggs[k]["value"] for k in ("lo", "hi"))
    return (None if lo is None else float(lo)), (None if hi is None else float(hi))


def scan_or_push_histogram(
    spark: SparkSession,
    base_url: str,
    index: str,
    field: str,
    interval: float,
    metrics: Metrics = None,
    scan: Optional[Callable[[], DataFrame]] = None,
    push_cardinality_ratio: float = 0.5,
) -> DataFrame:
    """:func:`scan_or_push` for the fixed-interval numeric histogram.

    Probe: one min/max metric pair (:func:`es_field_stats`) bounds the
    bucket count EXACTLY at ``(max-min)/interval + 1`` (histogram
    buckets are the populated subset of that span). Push iff the bound
    clears both the cardinality ratio and ES's un-paged
    search.max_buckets ceiling. The scan branch groups by the same
    ``floor(v/interval)*interval`` key the pushed buckets carry; an
    empty field pushes trivially (zero buckets either way).
    """
    if interval <= 0:
        raise ValueError(f"interval must be positive, got {interval}")
    metrics = _check_metrics(metrics)
    n_docs, budget = _doc_budget(HttpEsClient(base_url), index, push_cardinality_ratio)
    lo, hi = es_field_stats(base_url, index, field)
    upper = 0 if lo is None else int(math.floor(hi / interval) - math.floor(lo / interval)) + 1
    bucket = F.floor(F.col(field).cast("double") / interval) * interval
    return _push_or_scan(
        upper <= budget and upper <= _MAX_PUSH_BUCKETS,
        lambda: es_histogram_agg(spark, base_url, index, field, interval, metrics),
        scan,
        lambda df: _group_scan(df, [field], [bucket.alias("bucket")], metrics),
        f"histogram({interval}) on {index}.{field} spans ≤{upper} "
        f"buckets vs {n_docs} docs",
    )
