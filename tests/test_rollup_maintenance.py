"""Incremental rollup (r10: delta-store protocol): batch-by-batch
updates equal the one-shot aggregate exactly, each update WRITES only
the batch's own partial aggregate, non-decomposable measures and
mismatched definitions are refused, crashed versions stay invisible and
block loudly, and compaction bounds the read to one snapshot."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.rollup_maintenance import (
    compact_rollup,
    prune_rollup_versions,
    read_rollup,
    update_rollup,
)

SCHEMA = "day string, event_type string, value long"
MEASURES = {
    "n_events": ("count", "*"),
    "total": ("sum", "value"),
    "vmin": ("min", "value"),
    "vmax": ("max", "value"),
}
KEYS = ["day", "event_type"]

B1 = [("d1", "click", 5), ("d1", "click", 7), ("d1", "view", 1)]
B2 = [("d1", "click", 2), ("d2", "view", 9), ("d2", "view", 3)]
B3 = [("d2", "view", 11), ("d3", "buy", 4)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_one_shot(spark, tmp_path):
    path = str(tmp_path / "rollup")
    assert read_rollup(spark, path) is None
    for b in (B1, B2, B3):
        update_rollup(spark, path, spark.createDataFrame(b, SCHEMA), KEYS, MEASURES)
    standing = read_rollup(spark, path)

    allb = spark.createDataFrame(B1 + B2 + B3, SCHEMA)
    oneshot = allb.groupBy(*KEYS).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    assert _rows(standing) == _rows(oneshot)
    # three committed versions, one per batch
    assert sorted(d for d in os.listdir(path) if d.startswith("v=")) == [
        "v=0",
        "v=1",
        "v=2",
    ]


def test_non_decomposable_measure_refused(spark, tmp_path):
    with pytest.raises(ValueError, match="not decomposable"):
        update_rollup(
            spark,
            str(tmp_path / "r"),
            spark.createDataFrame(B1, SCHEMA),
            KEYS,
            {"bad": ("median", "value")},
        )


def test_crashed_version_invisible_and_blocks_loudly(spark, tmp_path):
    """A dangling (uncommitted) version is invisible to reads; a default
    batch update refuses to claim it (single-writer lock) instead of
    silently overwriting what may be a live committer's dir."""
    path = str(tmp_path / "rollup")
    update_rollup(spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES)
    os.makedirs(os.path.join(path, "v=1"))  # dangling: no _COMMITTED
    v0 = _rows(read_rollup(spark, path))
    assert v0 and all(r[0] == "d1" for r in v0)  # still reads v=0
    with pytest.raises(FileExistsError, match="without _COMMITTED"):
        update_rollup(spark, path, spark.createDataFrame(B2, SCHEMA), KEYS, MEASURES)


def test_mismatched_definition_refused(spark, tmp_path):
    path = str(tmp_path / "rollup")
    update_rollup(spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES)
    with pytest.raises(ValueError, match="definition mismatch"):
        update_rollup(
            spark,
            path,
            spark.createDataFrame(B2, SCHEMA),
            KEYS,
            {"n_events": ("count", "*")},
        )


def test_update_writes_only_batch_delta(spark, tmp_path):
    """O(|batch|) commits (VERDICT r9 missing #1): v=N holds ONLY batch
    N's own groups — the standing relation is never rewritten, so
    per-update cost is independent of how many groups have accumulated."""
    path = str(tmp_path / "rollup")
    update_rollup(spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES)
    update_rollup(spark, path, spark.createDataFrame(B3, SCHEMA), KEYS, MEASURES)
    v1 = spark.read.parquet(
        *[
            os.path.join(path, "v=1", d)
            for d in os.listdir(os.path.join(path, "v=1"))
            if d.startswith("p=")
        ]
    )
    got = {(r["day"], r["event_type"]) for r in v1.collect()}
    # B3's groups only — none of B1's standing groups re-appear
    assert got == {("d2", "view"), ("d3", "buy")}


def test_compact_bounds_read_and_prune_respects_floor(spark, tmp_path):
    """compact_rollup folds the tail into one snapshot: the resolved read
    then scans ONLY the snapshot version; values stay byte-identical;
    prune deletes exactly the pre-floor versions."""
    path = str(tmp_path / "rollup")
    for b in (B1, B2, B3):
        update_rollup(spark, path, spark.createDataFrame(b, SCHEMA), KEYS, MEASURES)
    before = _rows(read_rollup(spark, path))
    assert compact_rollup(spark, path) == 3
    standing = read_rollup(spark, path)
    assert _rows(standing) == before
    files = standing.inputFiles()
    assert files and all("v=3" in f for f in files)
    # one more delta, then GC: the floor is the snapshot (v=3)
    update_rollup(spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES)
    assert prune_rollup_versions(path, keep_last=2) == [0, 1, 2]
    got = {(r["day"], r["event_type"]): r["total"] for r in read_rollup(spark, path).collect()}
    assert got[("d1", "click")] == 14 + 12  # B1 twice + B2's 2... exact below
    # full check: B1+B2+B3+B1 one-shot
    allb = spark.createDataFrame(B1 + B2 + B3 + B1, SCHEMA)
    oneshot = allb.groupBy(*KEYS).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    assert _rows(read_rollup(spark, path)) == _rows(oneshot)


@pytest.mark.slow
def test_streamed_rollup_matches_batch_and_survives_replay(spark, tmp_path):
    """File-fed stream (one file per micro-batch) builds the same rollup
    as the one-shot aggregate; a crash-replay of a batch neither
    double-counts nor diverges (marker-first ledger)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
        _rollup_batch_processor,
        run_rollup_stream,
    )

    src = str(tmp_path / "src")
    for b in (B1, B2, B3):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").json(src)
    path = str(tmp_path / "rollup_s")
    q = run_rollup_stream(
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).json(src),
        path,
        str(tmp_path / "ckpt"),
        KEYS,
        MEASURES,
    )
    assert q.awaitTermination(600), "stream drain timed out"
    oneshot = spark.createDataFrame(B1 + B2 + B3, SCHEMA).groupBy(*KEYS).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    assert _rows(read_rollup(spark, path)) == _rows(oneshot)

    # direct crash-replay of the LAST batch via the exposed processor:
    # same lineage + batch id => fully-applied, must be a no-op
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
        checkpoint_identity,
    )

    ckpt_id = checkpoint_identity(str(tmp_path / "ckpt"))
    proc = _rollup_batch_processor(path, ckpt_id, KEYS, MEASURES)
    last_batch = sorted(
        int(m.rsplit("-", 1)[1])
        for m in os.listdir(os.path.join(path, "_ledger"))
        if m.startswith(ckpt_id)
        and not m.endswith((".attempt", ".recovered", ".tmp"))
    )[-1]
    before = _rows(read_rollup(spark, path))
    proc(spark.createDataFrame(B3, SCHEMA), last_batch)
    assert _rows(read_rollup(spark, path)) == before
    versions = sorted(d for d in os.listdir(path) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]


def test_crashed_rollup_batch_survives_interleaved_compact(spark, tmp_path):
    """The rollup's merge-aggregate is NOT idempotent, so the ADVICE r9
    race is a double-or-nothing hazard here: a batch pins its base,
    crashes pre-commit, a compact_rollup claims the pinned version with
    its snapshot. The replay must commit the batch past the tail (rows
    neither dropped nor double-counted) and a second replay must add
    nothing — driven through the real stream processor."""
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
        _rollup_batch_processor,
    )

    path = str(tmp_path / "rollup")
    update_rollup(spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES)
    ledger = os.path.join(path, "_ledger")
    os.makedirs(ledger)
    with open(os.path.join(ledger, "lin-3"), "w") as f:
        f.write("0")  # batch 3 pinned base_v=0, then crashed pre-commit
    assert compact_rollup(spark, path) == 1  # snapshot claims v=1

    proc = _rollup_batch_processor(path, "lin", KEYS, MEASURES)
    proc(spark.createDataFrame(B2, SCHEMA), 3)  # crash replay
    proc(spark.createDataFrame(B2, SCHEMA), 3)  # replay of the replay
    oneshot = spark.createDataFrame(B1 + B2, SCHEMA).groupBy(*KEYS).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    assert _rows(read_rollup(spark, path)) == _rows(oneshot)
    versions = sorted(d for d in os.listdir(path) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]


def test_fractional_sums_not_truncated(spark, tmp_path):
    """r10 review: the per-batch sum must NOT cast to long — two batches
    each summing to 0.6 would floor to 0 per delta and merge to 0 where
    the one-shot aggregate says 1.2. Decimal inputs stay byte-exact
    through the batch-sequence == one-shot contract."""
    path = str(tmp_path / "rollup")
    dec_schema = "day string, event_type string, value decimal(10,2)"
    from decimal import Decimal as D

    b1 = [("d1", "click", D("0.60"))]
    b2 = [("d1", "click", D("0.60"))]
    m = {"total": ("sum", "value")}
    for b in (b1, b2):
        update_rollup(spark, path, spark.createDataFrame(b, dec_schema), KEYS, m)
    got = read_rollup(spark, path).collect()
    assert len(got) == 1 and got[0]["total"] == D("1.20")


def test_same_kind_different_column_refused(spark, tmp_path):
    """r10 review: the _ROLLUP sidecar records the INPUT column, not just
    the kind — sum(bytes) and sum(latency) are different definitions even
    though both are 'sum', and merging them corrupts every total."""
    path = str(tmp_path / "rollup")
    schema2 = "day string, event_type string, value long, other long"
    rows = [("d1", "click", 5, 100)]
    update_rollup(
        spark, path, spark.createDataFrame(rows, schema2), KEYS,
        {"total": ("sum", "value")},
    )
    with pytest.raises(ValueError, match="definition mismatch"):
        update_rollup(
            spark, path, spark.createDataFrame(rows, schema2), KEYS,
            {"total": ("sum", "other")},
        )


def test_pre_protocol_layout_fails_loudly(spark, tmp_path):
    """A pre-r10 store (full snapshots committed via _SUCCESS, no
    _COMMITTED) must raise with the migration step — the delta protocol
    would otherwise read it as empty (silent data loss) and wedge the
    next update on the uncommitted v=0 claim."""
    path = str(tmp_path / "rollup")
    old = os.path.join(path, "v=0")
    os.makedirs(old)
    open(os.path.join(old, "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="pre-delta-protocol"):
        read_rollup(spark, path)
    with pytest.raises(ValueError, match="pre-delta-protocol"):
        update_rollup(
            spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES
        )


def test_stream_batch_refuses_pre_protocol_layout(spark, tmp_path):
    """The stream processor refuses a pre-r10 store before its ledger
    marker. Without the guard it pinned base -1, reclaimed the
    uncommitted v=0 as its own torn commit and deleted the old rows
    (``("a", 5)`` became ``("a", 1)``)."""
    import json

    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
        _rollup_batch_processor,
    )

    path = str(tmp_path / "rollup")
    spark.createDataFrame([("a", 5)], "k string, n long").write.parquet(
        os.path.join(path, "v=0")
    )
    with open(os.path.join(path, "_ROLLUP"), "w") as f:
        json.dump({"keys": ["k"], "measures": {"n": ["count", "*"]}}, f)
    proc = _rollup_batch_processor(path, "lin", ["k"], {"n": ("count", "*")})
    with pytest.raises(ValueError, match="pre-delta-protocol"):
        proc(spark.createDataFrame([("a",)], "k string"), 0)
    assert not os.path.exists(os.path.join(path, "_ledger"))
    v0 = spark.read.parquet(os.path.join(path, "v=0"))
    assert [tuple(r) for r in v0.collect()] == [("a", 5)]


def test_stream_replay_reclaims_its_torn_first_commit(spark, tmp_path):
    """A store stream's own first commit torn after the data write
    (``v=0/_SUCCESS`` without ``_COMMITTED``) is not an old layout: the
    store already holds ``_META``, so the replay reclaims v=0 and
    commits the batch once."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.rollup_job import (
        _rollup_batch_processor,
    )

    path = str(tmp_path / "rollup")
    proc = _rollup_batch_processor(path, "lin", KEYS, MEASURES)
    proc(spark.createDataFrame(B1, SCHEMA), 0)
    os.remove(os.path.join(path, "v=0", "_COMMITTED"))  # crash before the marker
    assert os.path.exists(os.path.join(path, "v=0", "_SUCCESS"))
    proc(spark.createDataFrame(B1, SCHEMA), 0)  # crash replay
    oneshot = spark.createDataFrame(B1, SCHEMA).groupBy(*KEYS).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("value").cast("long").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    assert _rows(read_rollup(spark, path)) == _rows(oneshot)


def test_update_can_skip_resolved_readback(spark, tmp_path):
    """return_resolved=False commits the delta without constructing the
    tail-sized resolved frame (the stream's discard-the-result path)."""
    path = str(tmp_path / "rollup")
    out = update_rollup(
        spark, path, spark.createDataFrame(B1, SCHEMA), KEYS, MEASURES,
        return_resolved=False,
    )
    assert out is None
    assert read_rollup(spark, path).count() == 2


def test_legacy_string_measures_sidecar_refused(spark, tmp_path):
    """ADVICE r10 #2: a pre-r10 _ROLLUP sidecar recorded measures as
    {out: kind} strings. Without a guard that surfaced as a misleading
    'definition mismatch' in update_rollup and a raw KeyError in
    read_rollup (kc[0] of 'sum' -> 's'); both paths must instead raise
    the migration instruction."""
    import json

    path = str(tmp_path / "rollup")
    df = spark.createDataFrame(B1, SCHEMA)
    update_rollup(spark, path, df, KEYS, MEASURES)
    # rewrite the sidecar in the legacy encoding (same definition)
    legacy = {
        "keys": KEYS,
        "measures": {out: kind for out, (kind, _) in MEASURES.items()},
    }
    with open(os.path.join(path, "_ROLLUP"), "w") as f:
        json.dump(legacy, f)
    with pytest.raises(ValueError, match="pre-r10 _ROLLUP sidecar"):
        read_rollup(spark, path)
    with pytest.raises(ValueError, match="pre-r10 _ROLLUP sidecar"):
        update_rollup(spark, path, spark.createDataFrame(B2, SCHEMA), KEYS, MEASURES)
