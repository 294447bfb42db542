"""Streaming tests (SURVEY.md §5.2 item 5): the export job end-to-end with
file naming + audit rows, windowed aggregations with watermark/late data,
and streaming dedup."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.sources.tables import load_table
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.export_job import (
    run_export_stream,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.windows import (
    dedup_stream,
    session_counts,
    tumbling_counts,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="etl_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_export_stream_end_to_end(spark, tmpdir):
    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    docs = [
        {"claimRequestId": i, "lines": [{"lineNumber": 1, "charge": 10.0 * i}], "ok": True}
        for i in range(5)
    ]
    with open(os.path.join(inp, "batch1.json"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")

    out = os.path.join(tmpdir, "out")
    q = run_export_stream(
        spark,
        inp,
        out,
        checkpoint_dir=os.path.join(tmpdir, "ckpt"),
        audit_path=os.path.join(tmpdir, "audit"),
    )
    assert q.awaitTermination(600), "stream drain timed out"

    tsv_dirs = glob.glob(os.path.join(out, "rta_claim_headers_*"))
    assert len(tsv_dirs) == 1, tsv_dirs
    # last claim id is part of the batch directory name (reference A17)
    assert os.path.basename(tsv_dirs[0]).startswith("rta_claim_headers_4_")

    tsv = spark.read.option("sep", "\t").option("header", True).csv(tsv_dirs[0])
    assert tsv.count() == 5
    assert tsv.columns == sorted(tsv.columns)
    assert "Lines_0_Charge" in tsv.columns

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    audit = AuditLog(spark, os.path.join(tmpdir, "audit")).read()
    rows = audit.collect()
    assert len(rows) == 1
    assert rows[0]["job_status"] == "SUCCESS"
    assert rows[0]["record_count_loaded"] == 5


def test_export_stream_incremental_checkpoint(spark, tmpdir):
    """Second run with a new file only processes the new file (checkpoint
    replaces the reference's hand-rolled search_after cursor)."""
    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as f:
        f.write(json.dumps({"claimRequestId": 1, "v": "x"}) + "\n")
    out = os.path.join(tmpdir, "out")
    kw = dict(
        checkpoint_dir=os.path.join(tmpdir, "ckpt"),
        audit_path=os.path.join(tmpdir, "audit"),
    )
    schema = "claimRequestId long, v string"
    run_export_stream(spark, inp, out, schema=schema, **kw).awaitTermination(600)
    with open(os.path.join(inp, "b.json"), "w") as f:
        f.write(json.dumps({"claimRequestId": 2, "v": "y"}) + "\n")
    run_export_stream(spark, inp, out, schema=schema, **kw).awaitTermination(600)

    dirs = sorted(glob.glob(os.path.join(out, "rta_claim_headers_*")))
    assert len(dirs) == 2
    second = spark.read.option("sep", "\t").option("header", True).csv(dirs[-1])
    # the incremental batch contains only the new document
    assert second.count() == 1


def _micro_batch_processor(spark, tmpdir, parse_batch=None):
    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.export_job import (
        _export_batch_processor,
    )

    audit = AuditLog(spark, os.path.join(tmpdir, "audit"))
    proc = _export_batch_processor(
        os.path.join(tmpdir, "out"), audit, "lin", "claimRequestId", False, False,
        parse_batch=parse_batch,
    )
    return proc, audit


def test_export_micro_batch_failed_write_leaves_nothing(spark, tmpdir, monkeypatch):
    """A micro-batch whose staged write fails after writing publishes no
    batch directory, leaves no staging directory, logs one FAILED audit
    row and raises."""
    from etl_pipeline_for_elasticsearch_json_document_spark import jobs

    real = jobs.write_tsv

    def write_then_fail(*args, **kwargs):
        real(*args, **kwargs)
        raise OSError("disk full")

    monkeypatch.setattr(jobs, "write_tsv", write_then_fail)
    proc, audit = _micro_batch_processor(spark, tmpdir)
    batch = spark.createDataFrame([(i, "x") for i in range(5)], "claimRequestId long, v string")
    with pytest.raises(OSError, match="disk full"):
        proc(batch, 0)
    out = os.path.join(tmpdir, "out")
    assert glob.glob(os.path.join(out, "rta_claim_headers_*")) == []
    assert glob.glob(os.path.join(out, "_staging_*")) == []
    rows = audit.read().collect()
    assert [r["job_status"] for r in rows] == ["FAILED"] and "disk full" in rows[0]["error_desc"]


@pytest.mark.parametrize("parsed", [False, True], ids=["file-fed", "parse_batch"])
def test_export_empty_micro_batch_writes_nothing(spark, tmpdir, parsed):
    """An empty micro-batch (A18) writes no directory and no audit row,
    whether it comes from a file stream or is parsed from ``es_tail``
    payloads with its own inferred schema."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.export_job import (
        _parse_source_json,
    )

    empty = os.path.join(tmpdir, "empty.json")
    open(empty, "w").close()
    schema = "source_json string" if parsed else "claimRequestId long, v string"
    batch = spark.read.schema(schema).json(empty)
    proc, audit = _micro_batch_processor(spark, tmpdir, _parse_source_json if parsed else None)
    proc(batch, 0)
    out = os.path.join(tmpdir, "out")
    assert not os.path.exists(out) or os.listdir(out) == []
    assert not os.path.exists(os.path.join(tmpdir, "audit"))


def _stream_events(spark, sf_dir, tmpdir):
    """Replay the events table as a file stream (one parquet dir)."""
    src = os.path.join(tmpdir, "events_src")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream drain timed out"
    return q


def test_tumbling_window_matches_batch(spark, sf_dir, tmpdir):
    # complete mode: append would hold back windows newer than
    # (max event time - watermark), which never close in a drained replay
    stream = _stream_events(spark, sf_dir, tmpdir)
    _run_to_memory(tumbling_counts(stream), "tumbling", mode="complete")
    got = spark.sql("SELECT * FROM tumbling")
    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .count()
    )
    assert got.count() == expected
    assert got.agg(F.sum("n")).first()[0] == batch.count()


def test_tumbling_window_append_late_data_dropped(spark, tmpdir):
    """Append mode + watermark: only windows the watermark has passed are
    emitted; data later than the watermark is dropped from closed windows."""
    src = os.path.join(tmpdir, "late")
    rows = [
        (1, "2024-01-01 00:10:00", "click", 1.0),
        (2, "2024-01-01 06:10:00", "click", 1.0),
        (3, "2024-01-02 00:00:00", "click", 1.0),  # advances watermark far ahead
    ]
    spark.createDataFrame(rows, "event_id long, ts_s string, event_type string, value double") \
        .select("event_id", F.to_timestamp("ts_s").alias("ts"), "event_type", "value") \
        .write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    _run_to_memory(tumbling_counts(stream, watermark="1 hour"), "late_windows", mode="append")
    got = spark.sql("SELECT * FROM late_windows")
    # the two early windows closed (watermark @ 2024-01-01 23:00); the
    # 2024-01-02 window is still open and therefore absent in append mode
    starts = sorted(r["window_start"].isoformat() for r in got.collect())
    assert starts == ["2024-01-01T00:00:00", "2024-01-01T06:00:00"]


def test_session_window_runs(spark, sf_dir, tmpdir):
    stream = _stream_events(spark, sf_dir, tmpdir)
    _run_to_memory(session_counts(stream), "sessions", mode="append")
    got = spark.sql("SELECT * FROM sessions")
    assert got.count() > 0
    assert got.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_streaming_dedup(spark, tmpdir):
    src = os.path.join(tmpdir, "dups")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (2, "2024-01-01 00:20:00")],
        "event_id long, ts_s string",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts")).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    _run_to_memory(dedup_stream(stream), "dedup")
    got = spark.sql("SELECT event_id FROM dedup")
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2]


@pytest.mark.slow
def test_stateful_sessionize(spark, tmpdir):
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.stateful import sessionize_stream

    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    rows = [
        # user 1: two sessions (gap of 2h between them)
        {"user_id": 1, "ts": "2024-01-01 10:00:00"},
        {"user_id": 1, "ts": "2024-01-01 10:05:00"},
        {"user_id": 1, "ts": "2024-01-01 12:00:00"},
        {"user_id": 1, "ts": "2024-01-01 12:05:00"},
        # user 2: one open session
        {"user_id": 2, "ts": "2024-01-01 10:00:00"},
        {"user_id": 2, "ts": "2024-01-01 10:10:00"},
    ]
    with open(os.path.join(inp, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    def run_batch():
        stream = spark.readStream.schema("user_id bigint, ts timestamp").json(inp)
        sessions = sessionize_stream(stream, gap_minutes=30, watermark="10 minutes")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", os.path.join(tmpdir, "out"))
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600), "stream drain timed out"
        return spark.read.parquet(os.path.join(tmpdir, "out"))

    out1 = run_batch()
    # user 1's first session closes on the in-batch gap; user 2's closes by
    # event-time timeout once the watermark (max ts - 10 min) passes
    # last + gap. Only user 1's 12:00 session is still open.
    got = {(r.user_id, r.n_events) for r in out1.collect()}
    assert got == {(1, 2), (2, 2)}, got

    # a much-later event advances the watermark past the remaining open
    # session's timeout → it flushes
    with open(os.path.join(inp, "b2.json"), "w") as f:
        f.write(json.dumps({"user_id": 3, "ts": "2024-01-02 10:00:00"}) + "\n")
    out2 = run_batch()
    rows = [(r.user_id, r.session_start_us, r.n_events) for r in out2.collect()]
    assert len(rows) == 3, rows
    assert (1, 1704103200000000, 2) in rows, rows  # 2024-01-01 12:00 UTC session


@pytest.mark.slow
def test_stateful_sessionize_late_events(spark, tmpdir):
    """Late-but-admitted events (within watermark) that precede the open
    session's start must extend it backwards when within gap, and form their
    own closed session when more than gap older — not be silently absorbed."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.stateful import sessionize_stream

    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)

    def run_batch():
        stream = spark.readStream.schema("user_id bigint, ts timestamp").json(inp)
        sessions = sessionize_stream(stream, gap_minutes=30, watermark="6 hours")
        q = (
            sessions.writeStream.format("parquet")
            .option("path", os.path.join(tmpdir, "out"))
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600), "stream drain timed out"
        return spark.read.parquet(os.path.join(tmpdir, "out"))

    def write_rows(name, rows):
        with open(os.path.join(inp, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_rows(
        "b1.json",
        [
            {"user_id": 9, "ts": "2024-01-01 12:00:00"},
            {"user_id": 9, "ts": "2024-01-01 12:05:00"},
        ],
    )
    run_batch()

    # 11:50 is within gap of the open session's 12:00 start -> extends it
    # backwards; 08:00 is > gap older -> its own (immediately closed) session.
    write_rows(
        "b2.json",
        [
            {"user_id": 9, "ts": "2024-01-01 11:50:00"},
            {"user_id": 9, "ts": "2024-01-01 08:00:00"},
            {"user_id": 10, "ts": "2024-01-01 13:00:00"},
        ],
    )
    run_batch()

    # far-future event pushes the watermark past every open timeout -> flush
    write_rows("b3.json", [{"user_id": 10, "ts": "2024-01-03 12:00:00"}])
    out = run_batch()

    def us(s):
        import datetime as dt

        return int(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    user9 = {
        (r.session_start_us, r.session_end_us, r.n_events)
        for r in out.filter(F.col("user_id") == 9).collect()
    }
    assert user9 == {
        (us("2024-01-01 08:00:00"), us("2024-01-01 08:00:00"), 1),
        (us("2024-01-01 11:50:00"), us("2024-01-01 12:05:00"), 3),
    }, user9


@pytest.mark.slow
def test_session_window_stream_matches_batch(spark, sf_dir, tmpdir):
    """Every session the stream emits (append mode: closed sessions only)
    must byte-match the batch sessionize_batch result — the lambda-architecture
    guarantee that backfill and live agree."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.windows import sessionize_batch

    stream = _stream_events(spark, sf_dir, tmpdir)
    _run_to_memory(session_counts(stream, gap="30 minutes"), "sessions_parity", mode="append")
    got = {
        (r["user_id"], r["s_us"], r["e_us"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_parity")
        .select(
            "user_id",
            F.unix_micros("session_start").alias("s_us"),
            F.unix_micros("session_end").alias("e_us"),
            "n_events",
        )
        .collect()
    }
    assert got, "stream emitted no closed sessions"
    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in sessionize_batch(
            load_table(spark, sf_dir, "events"), gap="30 minutes"
        ).collect()
    }
    assert got <= batch, f"{len(got - batch)} streamed sessions differ from batch"


@pytest.mark.slow
def test_interval_join_stream_matches_batch(spark, sf_dir, tmpdir):
    """Stream-stream interval join drains to the same pairs as the
    equivalent batch range join (click→purchase attribution within 30m)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.joins import (
        interval_join_stream,
    )

    events = load_table(spark, sf_dir, "events")
    clicks_b = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    buys_b = events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")

    src = os.path.join(tmpdir, "ij_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    clicks_s = stream.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    buys_s = stream.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")

    joined = interval_join_stream(clicks_s, buys_s, within="30 minutes")
    _run_to_memory(joined, "ij_stream")
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM ij_stream").collect()
    }

    l, r = clicks_b.alias("l"), buys_b.alias("r")
    expected = {
        (row.user_id, row.lid, row.rid)
        for row in l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") > F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("lid"),
            F.col("r.event_id").alias("rid"),
        )
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_static_enrichment_matches_batch(spark, sf_dir, tmpdir):
    # stream-static join: per-micro-batch broadcast enrichment, stateless;
    # result must equal the same join run in batch.
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.joins import enrich_stream

    dim = (
        load_table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") % 15).alias("user_id"), "c_mktsegment")
        .dropDuplicates(["user_id"])
    )
    stream = _stream_events(spark, sf_dir, tmpdir)
    enriched = enrich_stream(
        stream.select("event_id", "user_id"), dim, key="user_id", how="left"
    )
    _run_to_memory(enriched, "enriched", mode="append")
    got = spark.sql("SELECT * FROM enriched")
    batch = load_table(spark, sf_dir, "events").select("event_id", "user_id").join(
        dim, "user_id", "left"
    )
    assert got.count() == batch.count() == 1000
    assert got.exceptAll(batch).isEmpty()


@pytest.mark.slow
def test_interval_join_stream_left_outer(spark, sf_dir, tmpdir):
    """leftOuter stream-stream join: inner pairs match the batch join
    exactly, and unmatched clicks surface as null-padded rows once the
    watermark proves no purchase can still arrive. Outer emission needs the
    watermark to ADVANCE BETWEEN micro-batches, so the replay is split into
    time-ordered files consumed one per trigger."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.joins import (
        interval_join_stream,
    )

    events = load_table(spark, sf_dir, "events")
    clicks_b = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    buys_b = events.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")

    src = os.path.join(tmpdir, "loj_src")
    # One file per time slice, WRITTEN SEQUENTIALLY in ts order: the file
    # source consumes files in modification-time order, and a parallel
    # range-partitioned write finishes its tasks out of order — a later
    # slice consumed first would jump the watermark and drop earlier
    # events as late. Sequential appends make mod-order == event-time
    # order, so the per-batch watermark ratchets forward monotonically.
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    bounds = [lo + (hi - lo) * i / 8 for i in range(9)]
    for i in range(8):
        sl = events.filter(
            (F.col("ts") >= bounds[i])
            & ((F.col("ts") < bounds[i + 1]) if i < 7 else (F.col("ts") <= bounds[8]))
        )
        sl.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    clicks_s = stream.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    buys_s = stream.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")

    joined = interval_join_stream(
        clicks_s, buys_s, within="30 minutes", watermark="10 minutes", how="leftOuter"
    )
    _run_to_memory(joined, "loj_stream")
    rows = spark.sql("SELECT * FROM loj_stream").collect()
    got_inner = {(r.user_id, r.l_event_id, r.r_event_id) for r in rows if r.r_event_id is not None}
    got_outer = {(r.user_id, r.l_event_id) for r in rows if r.r_event_id is None}

    l, r = clicks_b.alias("l"), buys_b.alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes"))
    )
    expected_inner = {
        (row.user_id, row.lid, row.rid)
        for row in l.join(r, cond)
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("lid"),
            F.col("r.event_id").alias("rid"),
        )
        .collect()
    }
    unmatched = {
        (row.user_id, row.lid)
        for row in l.join(r, cond, "left_anti")
        .select(F.col("l.user_id").alias("user_id"), F.col("l.event_id").alias("lid"))
        .collect()
    }
    # every inner pair is emitted; no outer row is ever emitted twice or
    # for a click that actually has a match; trailing clicks younger than
    # the final watermark may legitimately still sit in state
    assert got_inner == expected_inner
    assert got_outer <= unmatched
    assert len(got_outer) > 0, "watermark never flushed any outer rows"


def test_cms_stream_equals_batch_sketch(spark, sf_dir, tmpdir):
    """The streamed (rollup-committed) count-min sketch after a drain is
    IDENTICAL to the batch sketch over all data — the mergeable-summary
    guarantee that makes restarts/backfills order-independent."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
        count_min_build,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        read_rollup as read_sketch,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    events = load_table(spark, sf_dir, "events")
    src = os.path.join(tmpdir, "cms_src")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    # several micro-batches so the merge path actually runs
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src)

    state = os.path.join(tmpdir, "cms_state")
    q = run_cms_stream(
        stream.select("event_type"),
        "event_type",
        state_path=state,
        checkpoint_dir=os.path.join(tmpdir, "cms_ckpt"),
        depth=4,
        width=32,
    )
    assert q.awaitTermination(600), "stream drain timed out"

    streamed = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()
    }
    batch = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in count_min_build(events.select("event_type"), "event_type", 4, 32).collect()
    }
    assert streamed == batch and sum(streamed.values()) == 4 * events.count()


def _simulate_crash_before_commit(checkpoint_dir):
    """Make the checkpoint look like the job died between writing the batch
    output and committing the epoch: offsets say batch 0 started, commits
    say it never finished → the restart re-delivers batch 0 (the real
    at-least-once replay, same lineage)."""
    commits = sorted(glob.glob(os.path.join(checkpoint_dir, "commits", "*")))
    assert commits, "no committed epochs to roll back"
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), "." + os.path.basename(commits[-1]) + ".crc"
    )
    if os.path.exists(crc):  # local-fs checksum shadow of the commit file
        os.remove(crc)


def test_export_stream_exactly_once_replay_idempotent(spark, tmpdir):
    """exactly_once mode: a micro-batch replayed after a crash between
    write and checkpoint commit (same lineage) overwrites its own
    deterministic epoch directory instead of minting a second timestamped
    one, so the output converges instead of duplicating."""
    import json as _json

    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as f:
        for i in range(5):
            f.write(_json.dumps({"claimRequestId": i, "v": "x"}) + "\n")
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt1")
    schema = "claimRequestId long, v string"
    run_export_stream(
        spark, inp, out, checkpoint_dir=ckpt,
        audit_path=os.path.join(tmpdir, "audit"),
        schema=schema, exactly_once=True,
    ).awaitTermination(600)
    _simulate_crash_before_commit(ckpt)
    run_export_stream(  # restart replays batch 0 in the SAME lineage
        spark, inp, out, checkpoint_dir=ckpt,
        audit_path=os.path.join(tmpdir, "audit"),
        schema=schema, exactly_once=True,
    ).awaitTermination(600)
    dirs = glob.glob(os.path.join(out, "rta_claim_headers_*"))
    assert len(dirs) == 1 and "epoch000000" in dirs[0]
    got = spark.read.option("sep", "\t").option("header", True).csv(dirs[0])
    assert got.count() == 5  # overwritten, not doubled


def test_export_stream_fresh_checkpoint_does_not_mask_new_data(spark, tmpdir):
    """A FRESH checkpoint restarts epochs at 0 — its batch 0 is genuinely
    new data, and the lineage-scoped ledger must write it rather than
    skipping on the stale 'epoch 0 already SUCCESS' row (the data-loss
    failure mode of an epoch-only ledger)."""
    import json as _json

    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as f:
        for i in range(5):
            f.write(_json.dumps({"claimRequestId": i, "v": "x"}) + "\n")
    out = os.path.join(tmpdir, "out")
    audit = os.path.join(tmpdir, "audit")
    schema = "claimRequestId long, v string"
    run_export_stream(
        spark, inp, out, checkpoint_dir=os.path.join(tmpdir, "ck_first"),
        audit_path=audit, schema=schema, exactly_once=True,
    ).awaitTermination(600)
    # second lineage over NEW input (same output/audit): epochs restart at 0
    with open(os.path.join(inp, "b.json"), "w") as f:
        for i in range(100, 103):
            f.write(_json.dumps({"claimRequestId": i, "v": "y"}) + "\n")
    run_export_stream(
        spark, inp, out, checkpoint_dir=os.path.join(tmpdir, "ck_second"),
        audit_path=audit, schema=schema, exactly_once=True,
    ).awaitTermination(600)
    dirs = glob.glob(os.path.join(out, "rta_claim_headers_*"))
    assert len(dirs) == 2  # one epoch-0 dir per lineage, no collision
    total = sum(
        spark.read.option("sep", "\t").option("header", True).csv(d).count()
        for d in dirs
    )
    assert total == 13  # 5 (first lineage) + 8 (second lineage re-reads dir)


def test_cms_stream_replay_is_idempotent(spark, sf_dir, tmpdir):
    """at-least-once safety: a batch re-delivered after a crash between
    state commit and checkpoint commit (SAME lineage) must NOT double-count —
    the store's (ckpt_id, batch) ledger marker detects and skips it."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        read_rollup as read_sketch,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    events = load_table(spark, sf_dir, "events").limit(200)
    src = os.path.join(tmpdir, "cms2_src")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    state = os.path.join(tmpdir, "cms2_state")
    ckpt = os.path.join(tmpdir, "cms2_ck")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_cms_stream(
            stream.select("event_type"), "event_type",
            state_path=state, checkpoint_dir=ckpt, width=32,
        ).awaitTermination(600)

    drain()
    first = {(r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()}
    _simulate_crash_before_commit(ckpt)
    drain()  # restart re-delivers batch 0 in the same lineage → skipped
    second = {(r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()}
    assert first == second


def test_cms_stream_fresh_checkpoint_merges_new_data(spark, sf_dir, tmpdir):
    """A fresh checkpoint restarts epochs at 0; its batch 0 carries NEW
    data and must merge into the existing state — the lineage-scoped ledger
    only skips replays from the lineage that produced the state row."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
        count_min_build,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        read_rollup as read_sketch,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    events = load_table(spark, sf_dir, "events").filter("event_id < 200")
    src_a = os.path.join(tmpdir, "cms3_a")
    src_b = os.path.join(tmpdir, "cms3_b")
    half = events.filter("event_id % 2 = 0")  # deterministic split
    rest = events.filter("event_id % 2 = 1")
    half.coalesce(1).write.mode("overwrite").parquet(src_a)
    rest.coalesce(1).write.mode("overwrite").parquet(src_b)
    schema = spark.read.parquet(src_a).schema
    state = os.path.join(tmpdir, "cms3_state")

    for src, ck in ((src_a, "cms3_ck_a"), (src_b, "cms3_ck_b")):
        stream = spark.readStream.schema(schema).parquet(src)
        run_cms_stream(
            stream.select("event_type"), "event_type",
            state_path=state, checkpoint_dir=os.path.join(tmpdir, ck), width=32,
        ).awaitTermination(600)

    streamed = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()
    }
    both = half.select("event_type").unionByName(rest.select("event_type"))
    batch = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in count_min_build(both, "event_type", 4, 32).collect()
    }
    assert streamed == batch  # second lineage's batch 0 merged, not skipped


def test_cms_stream_alternating_lineages_replay_skipped(spark, sf_dir, tmpdir):
    """Two checkpoint lineages alternating over ONE state path: lineage A
    merges, lineage B merges, then A crash-replays its batch 0. A
    single-(ckpt, last_batch) ledger forgets A's high-water mark the
    moment B merges and double-counts the replay; the per-lineage ledger
    markers must keep both marks and leave the state unchanged."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        read_rollup as read_sketch,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    events = load_table(spark, sf_dir, "events").filter("event_id < 200")
    src_a = os.path.join(tmpdir, "cms4_a")
    src_b = os.path.join(tmpdir, "cms4_b")
    events.filter("event_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(src_a)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("overwrite").parquet(src_b)
    schema = spark.read.parquet(src_a).schema
    state = os.path.join(tmpdir, "cms4_state")
    ck_a = os.path.join(tmpdir, "cms4_ck_a")
    ck_b = os.path.join(tmpdir, "cms4_ck_b")

    def drain(src, ck):
        stream = spark.readStream.schema(schema).parquet(src)
        run_cms_stream(
            stream.select("event_type"), "event_type",
            state_path=state, checkpoint_dir=ck, width=32,
        ).awaitTermination(600)

    drain(src_a, ck_a)  # lineage A: batch 0 merged
    drain(src_b, ck_b)  # lineage B: batch 0 merged (ledger now holds both)
    after_b = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()
    }
    _simulate_crash_before_commit(ck_a)
    drain(src_a, ck_a)  # A re-delivers its batch 0 → must skip, not re-merge
    replayed = {
        (r["d"], r["bucket"]): r["cnt"] for r in read_sketch(spark, state).collect()
    }
    assert replayed == after_b


def test_cms_stream_refuses_old_sketch_state(spark, tmpdir):
    """The sketch state before it became a rollup was one plain parquet
    directory carrying a JSON ledger column. The stream must refuse it
    before any write (the delta protocol would read it as an empty sketch
    and start over on top of it), and leave its files untouched."""
    from pyspark.errors import StreamingQueryException

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        read_rollup,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    state = os.path.join(tmpdir, "cms_old_state")
    spark.createDataFrame(
        [(0, 3, 5, '{"lin": 0}'), (1, 7, 5, '{"lin": 0}')],
        "d int, bucket int, cnt bigint, ledger string",
    ).coalesce(1).write.parquet(state)
    before = sorted(os.listdir(state))
    src = os.path.join(tmpdir, "cms_old_src")
    spark.createDataFrame([("a",), ("b",)], "w string").coalesce(1).write.json(src)

    q = run_cms_stream(
        spark.readStream.schema("w string").json(src), "w",
        state_path=state, checkpoint_dir=os.path.join(tmpdir, "cms_old_ck"),
    )
    with pytest.raises(StreamingQueryException, match="pre-delta-protocol"):
        q.awaitTermination(600)
    assert sorted(os.listdir(state)) == before
    with pytest.raises(ValueError, match="pre-delta-protocol"):
        read_rollup(spark, state)


def test_cms_stream_refuses_other_geometry(spark, tmpdir):
    """The store records the (depth, width) it was built with. A fresh
    checkpoint with another width must be refused before its stream
    starts: cells of two widths in one store make every estimate wrong."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.delta_store import (
        committed_versions,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    src = os.path.join(tmpdir, "cms_geo_src")
    spark.createDataFrame(
        [(f"w{i}",) for i in range(20)], "w string"
    ).coalesce(1).write.json(src)
    state = os.path.join(tmpdir, "cms_geo_state")

    def run(width: int, ck: str):
        return run_cms_stream(
            spark.readStream.schema("w string").json(src), "w",
            state_path=state, checkpoint_dir=os.path.join(tmpdir, ck), width=width,
        )

    assert run(32, "cms_geo_ck_a").awaitTermination(600)
    before = committed_versions(state)
    assert before == [0]
    with pytest.raises(ValueError, match="width"):
        run(64, "cms_geo_ck_b").awaitTermination(600)
    assert committed_versions(state) == before
    # the recorded geometry still runs
    assert run(32, "cms_geo_ck_c").awaitTermination(600)
    assert committed_versions(state) == [0, 1]
    # a store with versions but no stamp has an unknown geometry
    os.remove(os.path.join(state, "_SKETCH"))
    with pytest.raises(ValueError, match="no _SKETCH"):
        run(32, "cms_geo_ck_d")
    assert committed_versions(state) == [0, 1]


def test_cms_stream_compacts_to_batch_sketch(spark, tmpdir):
    """Each micro-batch commits one delta version; compact_rollup folds
    the tail into one snapshot that still equals count_min_build over all
    the data, read back as d int, bucket int, cnt bigint (no ledger
    column reaches readers)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.delta_store import (
        committed_versions,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
        compact_rollup,
        read_rollup,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.sketches import (
        count_min_build,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.sketch_job import (
        run_cms_stream,
    )

    words = [(f"w{i % 7}",) for i in range(40)]
    src = os.path.join(tmpdir, "cms5_src")
    for k in range(4):
        part = spark.createDataFrame(words[k * 10 : (k + 1) * 10], "w string")
        part.coalesce(1).write.mode("append").json(src)
    state = os.path.join(tmpdir, "cms5_state")
    q = run_cms_stream(
        spark.readStream.schema("w string").option("maxFilesPerTrigger", 1).json(src),
        "w", state_path=state, checkpoint_dir=os.path.join(tmpdir, "cms5_ck"), width=32,
    )
    assert q.awaitTermination(600), "stream drain timed out"
    ticks = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(ticks) == 4
    assert committed_versions(state) == [0, 1, 2, 3]  # one delta per tick

    assert compact_rollup(spark, state) == 4
    got = read_rollup(spark, state)
    assert got.dtypes == [("d", "int"), ("bucket", "int"), ("cnt", "bigint")]
    want = count_min_build(spark.createDataFrame(words, "w string"), "w", 4, 32)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_export_stream_exactly_once_single_audit_row(spark, tmpdir):
    """A same-lineage replayed batch in exactly_once mode must not append a
    second SUCCESS audit row (the audit table is the processed-batch
    ledger, keyed on epoch + checkpoint lineage)."""
    import json as _json

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as f:
        f.write(_json.dumps({"claimRequestId": 1, "v": "x"}) + "\n")
    out = os.path.join(tmpdir, "out")
    audit_path = os.path.join(tmpdir, "audit")
    ckpt = os.path.join(tmpdir, "ck1")
    schema = "claimRequestId long, v string"
    for attempt in range(2):  # second run replays batch 0, same lineage
        run_export_stream(
            spark, inp, out, checkpoint_dir=ckpt,
            audit_path=audit_path, schema=schema, exactly_once=True,
        ).awaitTermination(600)
        if attempt == 0:
            _simulate_crash_before_commit(ckpt)
    rows = AuditLog(spark, audit_path).read().collect()
    assert len(rows) == 1 and rows[0]["job_status"] == "SUCCESS"


@pytest.mark.slow
def test_schema_evolution_stream_matches_batch(spark, tmpdir):
    """Streaming twin of q246 (VERDICT r10 item 8): micro-batches append
    their json_schema_profile rows to a standing store; after the drain,
    schema_evolution_report over the accumulated profiles equals the
    one-shot batch report — schema memory ACROSS batches, which the
    reference's per-page rediscovery never had. Exercises all three
    statuses: a path that appears (new), one that vanishes (missing),
    and one whose scalar kind flips (kind_changed)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        json_schema_profile,
        schema_evolution_report,
    )

    rows = []
    for batch in range(4):
        for i in range(3):
            parts = [f'"a":{i}']
            if batch >= 1:
                parts.append(f'"b":{i * 10}')       # new in batch 1
            if batch < 2:
                parts.append(f'"c":"s{i}"')          # missing from batch 2
            parts.append(f'"d":{i}' if batch < 3 else f'"d":"x{i}"')  # flips in 3
            rows.append((batch, "{" + ",".join(parts) + "}"))
    df = spark.createDataFrame(rows, "batch long, j string")

    src = os.path.join(tmpdir, "sev_src")
    # one file per batch id so maxFilesPerTrigger=1 delivers them as
    # separate micro-batches in order
    for b in range(4):
        df.filter(f"batch = {b}").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("batch long, j string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    profiles = os.path.join(tmpdir, "sev_profiles")

    def process(batch_df, batch_id):
        json_schema_profile(batch_df, "batch", "j").write.mode("append").parquet(
            profiles
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(tmpdir, "sev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream drain timed out"

    streamed = schema_evolution_report(spark.read.parquet(profiles))
    got = {tuple(r) for r in streamed.collect()}
    want = {
        (1, "b", "new", None, "number"),
        (2, "c", "missing", "string", None),
        (3, "d", "kind_changed", "number", "string"),
    }
    assert got == want
    # parity with the one-shot batch report over the same rows
    batch_report = schema_evolution_report(json_schema_profile(df, "batch", "j"))
    assert {tuple(r) for r in batch_report.collect()} == want


@pytest.mark.slow
def test_schema_watch_stream_entry_point(spark, tmpdir):
    """run_schema_watch_stream end-to-end: micro-batches (split so one
    LOGICAL batch ordinal spans two micro-batches — the merge path) feed
    the standing profile store; read_schema_report returns the same
    report as the one-shot batch operator, and a crash replay of a
    micro-batch rewrites its deterministic directory instead of
    double-counting."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        json_schema_profile,
        schema_evolution_report,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        read_schema_report,
        run_schema_watch_stream,
    )

    rows = []
    for batch in range(3):
        for i in range(4):
            parts = [f'"a":{i}']
            if batch >= 1:
                parts.append(f'"b":{i}')                 # new in batch 1
            parts.append(f'"c":{i}' if batch < 2 else f'"c":"x{i}"')  # flips in 2
            rows.append((batch, i, "{" + ",".join(parts) + "}"))
    df = spark.createDataFrame(rows, "batch long, i long, j string")
    src = os.path.join(tmpdir, "sw_src")
    # split each logical batch into two files (i < 2 / i >= 2) so
    # maxFilesPerTrigger=1 delivers SIX micro-batches over THREE ordinals
    for b in range(3):
        for half in (0, 1):
            df.filter(f"batch = {b} and (i >= 2) = {bool(half)}").coalesce(
                1
            ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("batch long, i long, j string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    profiles = os.path.join(tmpdir, "sw_profiles")
    q = run_schema_watch_stream(
        stream.select("batch", "j"),
        profiles,
        os.path.join(tmpdir, "sw_ckpt"),
        "batch",
        "j",
    )
    assert q.awaitTermination(600), "stream drain timed out"

    want = {
        (1, "b", "new", None, "number"),
        (2, "c", "kind_changed", "number", "string"),
    }
    got = {tuple(r) for r in read_schema_report(spark, profiles).collect()}
    assert got == want
    # parity with the one-shot batch report
    batch_report = schema_evolution_report(
        json_schema_profile(df.select("batch", "j"), "batch", "j")
    )
    assert {tuple(r) for r in batch_report.collect()} == want
    # replay idempotence, on a store with a KNOWN micro-batch -> content
    # mapping (driving the processor directly): replaying a micro-batch
    # rewrites its deterministic dir byte-equivalently, report unchanged
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        _schema_watch_processor,
    )

    profiles2 = os.path.join(tmpdir, "sw_profiles2")
    proc = _schema_watch_processor(profiles2, "lin", "batch", "j")
    for mb, b in enumerate(range(3)):
        proc(df.filter(f"batch = {b}").select("batch", "j"), mb)
    assert {
        tuple(r) for r in read_schema_report(spark, profiles2).collect()
    } == want
    proc(df.filter("batch = 1").select("batch", "j"), 1)  # replay mb 1
    assert {
        tuple(r) for r in read_schema_report(spark, profiles2).collect()
    } == want


def test_export_watch_flags_widened_batch_in_audit(spark, tmpdir):
    """VERDICT r12 item 2's done-criterion: a widened batch lands an
    audit row with the alarm SET while the TSV still writes
    (flag-and-continue — the watch gates by flagging, never by
    crashing), and a kind flip (a: number → string) sets kind_changed.
    The first batch has no predecessor → both flags null."""
    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as f:
        f.write(json.dumps({"claimRequestId": 1, "a": 7, "b": {"c": 2}}) + "\n")
    out = os.path.join(tmpdir, "out")
    kw = dict(
        checkpoint_dir=os.path.join(tmpdir, "ckpt"),
        audit_path=os.path.join(tmpdir, "audit"),
        watch_dir=os.path.join(tmpdir, "watch"),
    )
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)
    # the feed widens (5 new fields, ~3x the columns) AND 'a' retypes
    with open(os.path.join(inp, "b.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "claimRequestId": 2, "a": "x", "b": {"c": 3},
                    "d": 1, "e": 2, "f": 3, "g": 4, "h": 5,
                }
            )
            + "\n"
        )
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    rows = sorted(
        AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect(),
        key=lambda r: r["batch_id"],
    )
    assert [r["job_status"] for r in rows] == ["SUCCESS", "SUCCESS"]
    first, second = rows
    assert first["widened"] is None and first["kind_changed"] is None
    assert second["widened"] == 1
    assert second["kind_changed"] == 1
    # flag-and-continue: the widened batch's TSV was still written
    dirs = sorted(glob.glob(os.path.join(out, "rta_claim_headers_*")))
    assert len(dirs) == 2
    tsv = spark.read.option("sep", "\t").option("header", True).csv(dirs[-1])
    assert tsv.count() == 1 and "H" in tsv.columns


def test_export_watch_steady_feed_never_alarms(spark, tmpdir):
    """Same schema across batches → widened=0/kind_changed=0 on the
    second batch (flags are VERDICTS once a predecessor exists, null only
    before one)."""
    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)
    doc = {"claimRequestId": 1, "a": 7, "b": {"c": 2}}
    with open(os.path.join(inp, "a.json"), "w") as f:
        f.write(json.dumps(doc) + "\n")
    out = os.path.join(tmpdir, "out")
    kw = dict(
        checkpoint_dir=os.path.join(tmpdir, "ckpt"),
        audit_path=os.path.join(tmpdir, "audit"),
        watch_dir=os.path.join(tmpdir, "watch"),
        schema="claimRequestId long, a long, b struct<c: long>",
    )
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)
    with open(os.path.join(inp, "b.json"), "w") as f:
        f.write(json.dumps({**doc, "claimRequestId": 2}) + "\n")
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    rows = sorted(
        AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect(),
        key=lambda r: r["batch_id"],
    )
    assert rows[1]["widened"] == 0 and rows[1]["kind_changed"] == 0


def test_export_watch_volume_contract_in_audit(spark, tmpdir):
    """VERDICT r12 item 7's streaming face: the export watch applies the
    q250 volume rules to each micro-batch's observed doc count — a
    half-emptied feed (<= half the trailing mean) lands an audit row with
    ``volume_dropped`` SET while the TSV still writes, a runaway feed
    (>= 2x) sets ``volume_surged``, and the first batch (no trailing
    history) leaves both null. Doc counts ride the write's own
    Observation — the watch adds no count job."""
    inp = os.path.join(tmpdir, "in")
    os.makedirs(inp)

    def feed(name, n, start):
        with open(os.path.join(inp, name), "w") as f:
            for i in range(n):
                f.write(
                    json.dumps({"claimRequestId": start + i, "a": i}) + "\n"
                )

    out = os.path.join(tmpdir, "out")
    kw = dict(
        checkpoint_dir=os.path.join(tmpdir, "ckpt"),
        audit_path=os.path.join(tmpdir, "audit"),
        watch_dir=os.path.join(tmpdir, "watch"),
        schema="claimRequestId long, a long",
    )
    feed("a.json", 4, 0)  # batch 0: no baseline -> nulls
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)
    feed("b.json", 1, 100)  # batch 1 vs trailing [4]: 2*1*1 <= 4 -> dropped
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)
    feed("c.json", 20, 200)  # batch 2 vs [4, 1]: 20*2 >= 2*5 -> surged
    run_export_stream(spark, inp, out, **kw).awaitTermination(600)

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog

    rows = sorted(
        AuditLog(spark, os.path.join(tmpdir, "audit")).read().collect(),
        key=lambda r: r["batch_id"],
    )
    assert [r["job_status"] for r in rows] == ["SUCCESS"] * 3
    assert [r["record_count_loaded"] for r in rows] == [4, 1, 20]
    first, second, third = rows
    assert first["volume_dropped"] is None and first["volume_surged"] is None
    assert (second["volume_dropped"], second["volume_surged"]) == (1, 0)
    assert (third["volume_dropped"], third["volume_surged"]) == (0, 1)
    # steady schema throughout: the width/kind axes never alarm
    assert second["widened"] == 0 and third["kind_changed"] == 0
    # flag-and-continue: all three batches' TSVs written regardless
    assert len(glob.glob(os.path.join(out, "rta_claim_headers_*"))) == 3


def test_export_watch_replay_recomputes_against_same_baseline(spark, tmpdir):
    """The watch state is replay-idempotent: a micro-batch re-run after
    the state advanced (crash between state write and audit commit, the
    foreachBatch at-least-once window) must diff against the SAME
    baseline the first attempt saw — not against itself — and must not
    double-append its count into the trailing volume history."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.export_job import (
        _watch_flags,
    )

    wd = os.path.join(tmpdir, "watch")
    df4 = spark.range(4).select(
        F.col("id").alias("claimRequestId"), F.lit(7).alias("a")
    )
    flat = df4  # only len(columns) is consulted
    assert _watch_flags(df4, flat, wd, "lin", 0, 4) == (None,) * 4
    first = _watch_flags(df4, flat, wd, "lin", 1, 4)
    assert first == (0, 0, 0, 0)
    # replay of batch 1: identical verdicts, not a self-diff
    assert _watch_flags(df4, flat, wd, "lin", 1, 4) == first
    # ... and the replay did NOT advance the state: batch 1's count sits
    # in the trailing history exactly once (epoch guard held)
    with open(os.path.join(wd, "state-lin.json")) as f:
        state = json.load(f)
    assert state["cur"]["epoch"] == 1
    assert state["cur"]["recent_docs"] == [4, 4]
    df3 = spark.range(3).select(
        F.col("id").alias("claimRequestId"), F.lit(7).alias("a")
    )
    assert _watch_flags(df3, df3, wd, "lin", 2, 3) == (0, 0, 0, 0)
