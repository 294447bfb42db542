"""Source-side aggregation pushdown (sources/es_agg.py): the pushed
terms+metric aggregation returns EXACTLY the buckets a full scan +
Spark groupBy computes — the pushdown-vs-scan equivalence — plus cap
and error behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.sinks import elasticsearch as es_sink
from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
    es_composite_agg,
    es_terms_agg,
)
from tests.fake_es import start_fake_es


@pytest.fixture()
def fake_es():
    server, base_url = start_fake_es()
    yield base_url
    server.shutdown()
    server.server_close()


def _seed(spark, sf_dir, fake_es, tmp_path, index="agg_docs"):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = str(tmp_path / "bulk")
    es_sink.write_bulk_files(docs.coalesce(2), out, index, id_col="doc_id")
    es_sink.replay_bulk_files(out, fake_es)
    return docs


def test_pushed_agg_equals_scan_groupby(spark, sf_dir, fake_es, tmp_path):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    pushed = es_terms_agg(
        spark,
        fake_es,
        "agg_docs",
        field="lang",
        metrics={
            "total_chars": ("sum", "n_chars"),
            "max_chars": ("max", "n_chars"),
            "n_vals": ("value_count", "n_chars"),
        },
    )
    scanned = docs.groupBy(F.col("lang").alias("key")).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.max("n_chars").cast("double").alias("max_chars"),
        F.count("n_chars").alias("n_vals"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_terms_size_caps_buckets_by_count(spark, sf_dir, fake_es, tmp_path):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    top2 = es_terms_agg(spark, fake_es, "agg_docs", field="lang", size=2)
    want = (
        docs.groupBy("lang")
        .count()
        .orderBy(F.col("count").desc(), "lang")
        .limit(2)
        .collect()
    )
    got = sorted(top2.collect(), key=lambda r: (-r["doc_count"], r["key"]))
    assert [(r["key"], r["doc_count"]) for r in got] == [
        (r["lang"], r["count"]) for r in want
    ]


def test_unsupported_metric_rejected(spark, fake_es):
    with pytest.raises(ValueError, match="unsupported metric"):
        es_terms_agg(
            spark, fake_es, "x", field="lang", metrics={"p": ("percentiles", "n")}
        )


def test_query_filter_applies_before_buckets(spark, sf_dir, fake_es, tmp_path):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    pushed = es_terms_agg(
        spark, fake_es, "agg_docs", field="lang",
        metrics={"total_chars": ("sum", "n_chars")},
        query={"term": {"source": "web"}},
    )
    scanned = (
        docs.filter(F.col("source") == "web")
        .groupBy(F.col("lang").alias("key"))
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").cast("double").alias("total_chars"),
        )
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_unmodeled_query_shape_is_loud(spark, sf_dir, fake_es, tmp_path):
    """The fake refuses query shapes it does not model instead of
    silently aggregating everything."""
    import urllib.error

    _seed(spark, sf_dir, fake_es, tmp_path)
    with pytest.raises(urllib.error.HTTPError):
        es_terms_agg(
            spark, fake_es, "agg_docs", field="lang",
            query={"range": {"n_chars": {"gte": 100}}},
        )


def test_composite_agg_pages_through_all_groups(spark, sf_dir, fake_es, tmp_path):
    """page_size far below the group count forces the after-key cursor
    to walk multiple pages; the accumulated relation equals a scan +
    multi-key groupBy."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    pushed = es_composite_agg(
        spark, fake_es, "agg_docs",
        fields=["lang", "source"],
        metrics={"total_chars": ("sum", "n_chars")},
        page_size=3,
    )
    scanned = docs.groupBy(
        F.col("lang").cast("string").alias("lang"),
        F.col("source").cast("string").alias("source"),
    ).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_composite_agg_page_cap_is_loud(spark, sf_dir, fake_es, tmp_path):
    _seed(spark, sf_dir, fake_es, tmp_path)
    with pytest.raises(RuntimeError, match="scan path"):
        es_composite_agg(
            spark, fake_es, "agg_docs", fields=["lang", "source"],
            page_size=1, max_pages=2,
        )


def test_histogram_pushdown_equals_scan(spark, sf_dir, fake_es, tmp_path):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_histogram_agg,
    )

    pushed = es_histogram_agg(
        spark, fake_es, "agg_docs", field="n_chars", interval=100,
        metrics={"avg_chars": ("avg", "n_chars")},
    )
    scanned = docs.groupBy(
        (F.floor(F.col("n_chars") / 100) * 100).cast("double").alias("bucket")
    ).agg(
        F.count("*").alias("doc_count"),
        F.avg("n_chars").alias("avg_chars"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_composite_flush_window_parity(spark, sf_dir, fake_es, tmp_path):
    """A flush window far below the bucket count forces multiple chunk
    DataFrames; the unioned relation is identical to the unflushed one —
    the driver-memory bound costs nothing in results."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    pushed = es_composite_agg(
        spark, fake_es, "agg_docs",
        fields=["lang", "source"],
        metrics={"total_chars": ("sum", "n_chars")},
        page_size=3,
        flush_rows=4,  # buckets >> 4 → several flushes
    )
    scanned = docs.groupBy(
        F.col("lang").cast("string").alias("lang"),
        F.col("source").cast("string").alias("source"),
    ).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_terms_refuses_nonzero_doc_count_error(spark, fake_es, monkeypatch):
    """A response admitting shard-local truncation (nonzero
    doc_count_error_upper_bound, as a real multi-shard cluster can
    return) is refused unless the caller opts into approximation."""
    from etl_pipeline_for_elasticsearch_json_document_spark.sources import es_agg

    def fake_search(self, index, body):
        return {
            "aggregations": {
                "g": {
                    "doc_count_error_upper_bound": 7,
                    "buckets": [{"key": "en", "doc_count": 100}],
                }
            }
        }

    monkeypatch.setattr(es_agg.HttpEsClient, "search", fake_search)
    with pytest.raises(RuntimeError, match="doc_count_error_upper_bound=7"):
        es_terms_agg(spark, fake_es, "agg_docs", field="lang")
    ok = es_terms_agg(
        spark, fake_es, "agg_docs", field="lang", allow_approximate=True
    )
    assert [(r["key"], r["doc_count"]) for r in ok.collect()] == [("en", 100)]


def _seed_events(spark, sf_dir, fake_es, tmp_path, index="agg_events"):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type",
            "value",
        )
    )
    out = str(tmp_path / "bulk_events")
    es_sink.write_bulk_files(ev.coalesce(2), out, index, id_col="event_id")
    es_sink.replay_bulk_files(out, fake_es)
    return ev


def test_date_histogram_pushdown_equals_scan(spark, sf_dir, fake_es, tmp_path):
    ev = _seed_events(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_date_histogram_agg,
    )

    pushed = es_date_histogram_agg(
        spark, fake_es, "agg_events", field="ts",
        calendar_interval="day",
        metrics={"total_value": ("sum", "value"), "n_vals": ("value_count", "value")},
    )
    scanned = ev.groupBy(F.substring("ts", 1, 10).alias("bucket")).agg(
        F.count("*").alias("doc_count"),
        F.sum("value").cast("double").alias("total_value"),
        F.count("value").alias("n_vals"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_date_histogram_month_and_bad_interval(spark, sf_dir, fake_es, tmp_path):
    ev = _seed_events(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_date_histogram_agg,
    )

    pushed = es_date_histogram_agg(
        spark, fake_es, "agg_events", field="ts", calendar_interval="month"
    )
    scanned = ev.groupBy(F.substring("ts", 1, 7).alias("bucket")).agg(
        F.count("*").alias("doc_count")
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }
    with pytest.raises(ValueError, match="calendar_interval"):
        es_date_histogram_agg(
            spark, fake_es, "agg_events", field="ts", calendar_interval="fortnight"
        )


def test_range_agg_pushdown_equals_scan(spark, sf_dir, fake_es, tmp_path):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_range_agg,
    )

    pushed = es_range_agg(
        spark, fake_es, "agg_docs", field="n_chars",
        ranges=[{"to": 200}, {"from": 200, "to": 600}, {"from": 600}],
        metrics={"avg_chars": ("avg", "n_chars")},
    )
    rows = {tuple(r) for r in pushed.collect()}

    def band(lo, hi):
        d = docs.filter(F.col("n_chars").isNotNull())
        if lo is not None:
            d = d.filter(F.col("n_chars") >= lo)
        if hi is not None:
            d = d.filter(F.col("n_chars") < hi)
        r = d.agg(
            F.count("*").alias("doc_count"), F.avg("n_chars").alias("avg_chars")
        ).collect()[0]
        return (lo, hi, r["doc_count"], r["avg_chars"])

    want = {band(None, 200.0), band(200.0, 600.0), band(600.0, None)}
    assert rows == want
    with pytest.raises(ValueError, match="from"):
        es_range_agg(spark, fake_es, "agg_docs", field="n_chars",
                     ranges=[{"gte": 1}])


def test_scan_or_push_picks_pushdown_for_small_cardinality(
    spark, sf_dir, fake_es, tmp_path
):
    """lang×source has a handful of buckets over hundreds of docs — the
    probe exhausts in one page and the planner pushes."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        scan_or_push,
    )

    chosen = scan_or_push(
        spark, fake_es, "agg_docs", fields=["lang", "source"],
        metrics={"total_chars": ("sum", "n_chars")},
        scan=lambda: (_ for _ in ()).throw(AssertionError("scan must not run")),
    )
    scanned = docs.groupBy(
        F.col("lang").cast("string").alias("lang"),
        F.col("source").cast("string").alias("source"),
    ).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
    )
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_scan_or_push_picks_scan_at_row_granularity(
    spark, sf_dir, fake_es, tmp_path
):
    """Grouping by doc_id makes every bucket one doc (cardinality ==
    corpus): the probe's lower bound crosses the ratio and the planner
    runs the provided scan, with the SAME output schema as the push
    branch; with no scan provided the choice is a loud error."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        scan_or_push,
    )

    chosen = scan_or_push(
        spark, fake_es, "agg_docs", fields=["doc_id"],
        metrics={"total_chars": ("sum", "n_chars")},
        scan=lambda: docs,
    )
    scanned = docs.groupBy(F.col("doc_id").cast("string").alias("doc_id")).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
    )
    assert chosen.columns == ["doc_id", "doc_count", "total_chars"]
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in scanned.collect()
    }
    with pytest.raises(ValueError, match="scan path wins"):
        scan_or_push(spark, fake_es, "agg_docs", fields=["doc_id"])


def test_composite_and_histogram_accept_query_filter(
    spark, sf_dir, fake_es, tmp_path
):
    """The whole pushdown family takes the same pre-bucket query filter
    (terms/date_histogram already did; composite + numeric histogram
    joined in r8) — parity vs filter-then-groupBy on the scan side."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_histogram_agg,
    )

    web = docs.filter(F.col("source") == "web")
    comp = es_composite_agg(
        spark, fake_es, "agg_docs", fields=["lang"],
        metrics={"total_chars": ("sum", "n_chars")},
        page_size=3, query={"term": {"source": "web"}},
    )
    comp_want = web.groupBy(F.col("lang").cast("string").alias("lang")).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_chars").cast("double").alias("total_chars"),
    )
    assert {tuple(r) for r in comp.collect()} == {
        tuple(r) for r in comp_want.collect()
    }

    hist = es_histogram_agg(
        spark, fake_es, "agg_docs", field="n_chars", interval=200,
        query={"term": {"source": "web"}},
    )
    hist_want = web.groupBy(
        (F.floor(F.col("n_chars") / 200) * 200).cast("double").alias("bucket")
    ).agg(F.count("*").alias("doc_count"))
    assert {tuple(r) for r in hist.collect()} == {
        tuple(r) for r in hist_want.collect()
    }


def test_cardinality_metric_pushdown(spark, sf_dir, fake_es, tmp_path):
    """Per-bucket distinct counts pushed as ES cardinality (HLL++, exact
    within the shipped precision_threshold) == scan + countDistinct."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    pushed = es_terms_agg(
        spark, fake_es, "agg_docs", field="lang",
        metrics={"n_sources": ("cardinality", "source")},
    )
    scanned = docs.groupBy(F.col("lang").alias("key")).agg(
        F.count("*").alias("doc_count"),
        F.countDistinct("source").alias("n_sources"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }


def test_scan_or_push_scan_branch_handles_cardinality(
    spark, sf_dir, fake_es, tmp_path
):
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        scan_or_push,
    )

    chosen = scan_or_push(
        spark, fake_es, "agg_docs", fields=["doc_id"],
        metrics={"n_langs": ("cardinality", "lang")},
        scan=lambda: docs,
    )
    scanned = docs.groupBy(F.col("doc_id").cast("string").alias("doc_id")).agg(
        F.count("*").alias("doc_count"),
        F.countDistinct("lang").alias("n_langs"),
    )
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in scanned.collect()
    }


@pytest.mark.slow
def test_scan_or_push_date_histogram_chooser_parity(
    spark, sf_dir, fake_es, tmp_path
):
    """The date_histogram chooser (r9, VERDICT item 6): day buckets over
    the events index span few months — the month probe bounds the bucket
    count well under the ratio, so the planner PUSHES (scan must not
    run); an hour grouping over a tiny doc count crosses the ratio and
    runs the provided scan with the SAME schema; no scan ⇒ loud error.
    Both branches return identical buckets."""
    ev = _seed_events(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        scan_or_push_date_histogram,
    )

    pushed = scan_or_push_date_histogram(
        spark, fake_es, "agg_events", field="ts", calendar_interval="day",
        metrics={"total_value": ("sum", "value")},
        scan=lambda: (_ for _ in ()).throw(AssertionError("scan must not run")),
    )
    want = ev.groupBy(F.substring("ts", 1, 10).alias("bucket")).agg(
        F.count("*").alias("doc_count"),
        F.sum("value").cast("double").alias("total_value"),
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in want.collect()
    }

    # a 3-doc index: the hour upper bound (31*24 buckets/month) exceeds
    # ratio*3, so the chooser scans — same schema, same buckets
    tiny = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 2.0), (2, "2024-01-01 11:30:00", 3.0),
         (3, "2024-01-02 10:15:00", 5.0)],
        "event_id long, ts string, value double",
    )
    out = str(tmp_path / "bulk_tiny")
    es_sink.write_bulk_files(tiny.coalesce(1), out, "tiny_events", id_col="event_id")
    es_sink.replay_bulk_files(out, fake_es)
    chosen = scan_or_push_date_histogram(
        spark, fake_es, "tiny_events", field="ts", calendar_interval="hour",
        metrics={"total_value": ("sum", "value")},
        scan=lambda: tiny,
    )
    assert chosen.columns == ["bucket", "doc_count", "total_value"]
    want_tiny = tiny.groupBy(F.substring("ts", 1, 13).alias("bucket")).agg(
        F.count("*").alias("doc_count"),
        F.sum("value").cast("double").alias("total_value"),
    )
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in want_tiny.collect()
    }
    with pytest.raises(ValueError, match="scan path wins"):
        scan_or_push_date_histogram(
            spark, fake_es, "tiny_events", field="ts", calendar_interval="hour"
        )
    with pytest.raises(ValueError, match="calendar_interval"):
        scan_or_push_date_histogram(
            spark, fake_es, "tiny_events", field="ts", calendar_interval="week"
        )


@pytest.mark.slow
def test_scan_or_push_range_chooser_parity(spark, sf_dir, fake_es, tmp_path):
    """The range chooser (r9, VERDICT item 6): a 3-band facet over
    hundreds of docs pushes (scan must not run); banding a 2-doc corpus
    into 3 ranges crosses the ratio and runs the scan branch, whose
    left-join-from-the-range-side keeps EMPTY and OVERLAPPING ranges —
    the two ES behaviors a naive groupBy would drop."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        scan_or_push_range,
    )

    ranges = [{"to": 200.0}, {"from": 200.0, "to": 600.0}, {"from": 600.0}]
    pushed = scan_or_push_range(
        spark, fake_es, "agg_docs", field="n_chars", ranges=ranges,
        metrics={"avg_chars": ("avg", "n_chars")},
        scan=lambda: (_ for _ in ()).throw(AssertionError("scan must not run")),
    )
    scanned = scan_or_push_range(
        spark, fake_es, "agg_docs", field="n_chars", ranges=ranges,
        metrics={"avg_chars": ("avg", "n_chars")},
        scan=lambda: docs, push_cardinality_ratio=0.0,  # force the scan branch
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in scanned.collect()
    }

    # 2-doc corpus, 3 ranges incl. an empty one and an overlap: the scan
    # branch (forced by the ratio) matches the pushed truth exactly
    two = spark.createDataFrame(
        [(1, 100.0), (2, 500.0)], "doc_id long, n_chars double"
    )
    out = str(tmp_path / "bulk_two")
    es_sink.write_bulk_files(two.coalesce(1), out, "two_docs", id_col="doc_id")
    es_sink.replay_bulk_files(out, fake_es)
    odd = [{"to": 50.0}, {"from": 0.0, "to": 1000.0}, {"from": 400.0}]
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import es_range_agg

    # sum over the EMPTY range is the branch-parity trap (ADVICE r9): ES
    # reports 0.0 where a bare F.sum over zero joined rows yields NULL —
    # the scan branch must coalesce sums (and ONLY sums) to 0.0
    truth = es_range_agg(
        spark, fake_es, "two_docs", field="n_chars", ranges=odd,
        metrics={"total": ("sum", "n_chars"), "avg_c": ("avg", "n_chars")},
    )
    chosen = scan_or_push_range(
        spark, fake_es, "two_docs", field="n_chars", ranges=odd,
        metrics={"total": ("sum", "n_chars"), "avg_c": ("avg", "n_chars")},
        scan=lambda: two,
    )
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in truth.collect()
    }
    empty = [r for r in chosen.collect() if r["doc_count"] == 0]
    assert empty and all(r["total"] == 0.0 and r["avg_c"] is None for r in empty)
    with pytest.raises(ValueError, match="scan path wins"):
        scan_or_push_range(
            spark, fake_es, "two_docs", field="n_chars", ranges=odd
        )


def test_scan_or_push_histogram_chooser_parity(spark, sf_dir, fake_es, tmp_path):
    """The histogram chooser (completing the four-family set): n_chars
    at interval 100 spans few hundred buckets over hundreds of docs —
    the min/max probe bounds cardinality under the ratio and the planner
    pushes (scan must not run); a 2-doc corpus at a fine interval
    crosses the ratio and runs the scan branch with the same
    floor(v/interval)*interval keys; no scan ⇒ loud error."""
    docs = _seed(spark, sf_dir, fake_es, tmp_path)
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_field_stats,
        scan_or_push_histogram,
    )

    lo, hi = es_field_stats(fake_es, "agg_docs", "n_chars")
    assert lo is not None and hi > lo

    pushed = scan_or_push_histogram(
        spark, fake_es, "agg_docs", field="n_chars", interval=100.0,
        metrics={"total_chars": ("sum", "n_chars")},
        scan=lambda: (_ for _ in ()).throw(AssertionError("scan must not run")),
    )
    want = (
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy(
            (F.floor(F.col("n_chars").cast("double") / 100.0) * 100.0).alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").cast("double").alias("total_chars"),
        )
    )
    assert {tuple(r) for r in pushed.collect()} == {
        tuple(r) for r in want.collect()
    }

    two = spark.createDataFrame(
        [(1, 100.0), (2, 5000.0)], "doc_id long, n_chars double"
    )
    out = str(tmp_path / "bulk_two_hist")
    es_sink.write_bulk_files(two.coalesce(1), out, "two_hist", id_col="doc_id")
    es_sink.replay_bulk_files(out, fake_es)
    chosen = scan_or_push_histogram(
        spark, fake_es, "two_hist", field="n_chars", interval=1.0,
        scan=lambda: two,
    )
    want2 = two.groupBy(
        (F.floor(F.col("n_chars").cast("double") / 1.0) * 1.0).alias("bucket")
    ).agg(F.count("*").alias("doc_count"))
    assert {tuple(r) for r in chosen.collect()} == {
        tuple(r) for r in want2.collect()
    }
    with pytest.raises(ValueError, match="scan path wins"):
        scan_or_push_histogram(
            spark, fake_es, "two_hist", field="n_chars", interval=1.0
        )
    with pytest.raises(ValueError, match="interval"):
        scan_or_push_histogram(
            spark, fake_es, "two_hist", field="n_chars", interval=0.0
        )


def test_scan_branches_drop_null_group_keys(spark, fake_es, tmp_path):
    """ES buckets no document whose group key is missing, so the choosers'
    scan branches drop null keys too: on a 3-doc index where one doc has
    no ``ts`` and no ``lang``, the forced scan returns exactly the pushed
    buckets, for the date_histogram and the composite chooser alike."""
    from etl_pipeline_for_elasticsearch_json_document_spark.sources.es_agg import (
        es_date_histogram_agg,
        scan_or_push,
        scan_or_push_date_histogram,
    )

    docs = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "en", 2.0),
         (2, "2024-01-01 11:30:00", "de", 3.0),
         (3, None, None, 5.0)],
        "doc_id long, ts string, lang string, value double",
    )
    out = str(tmp_path / "bulk_null_keys")
    es_sink.write_bulk_files(docs.coalesce(1), out, "null_keys", id_col="doc_id")
    es_sink.replay_bulk_files(out, fake_es)
    metrics = {"total": ("sum", "value")}

    def rows(df):
        return {tuple(r) for r in df.collect()}

    # 1 month ≤ 744 hour buckets > 0.5 × 3 docs: the chooser scans
    scanned = scan_or_push_date_histogram(
        spark, fake_es, "null_keys", field="ts", calendar_interval="hour",
        metrics=metrics, scan=lambda: docs,
    )
    assert rows(scanned) == rows(es_date_histogram_agg(
        spark, fake_es, "null_keys", field="ts", calendar_interval="hour",
        metrics=metrics,
    ))
    scanned = scan_or_push(
        spark, fake_es, "null_keys", fields=["lang"], metrics=metrics,
        scan=lambda: docs, push_cardinality_ratio=0.0,
    )
    assert rows(scanned) == rows(es_composite_agg(
        spark, fake_es, "null_keys", fields=["lang"], metrics=metrics
    ))
