"""Deep-path schema profile + flatten width contract (r12).

The r11 schema watch saw only TOP-LEVEL paths (``map<string,string>``
parse) — a nested field that retypes three levels down was invisible,
yet deep paths are exactly what the reference's schema discovery
enumerates (`ElasticSearch ETL.py:37-76`, recursion to depth 20).
These tests pin:

1. the deep walk's leaf-path/token semantics (nesting, arrays, the
   string-that-looks-like-JSON ambiguity, empty containers, the depth
   cap, null tokens);
2. nested drift surfacing through schema_evolution_report — batch and
   streaming (``run_schema_watch_stream(deep=True)``);
3. the width report's parity with the ACTUAL generated flatten select
   (``len(flatten_plan)``) and the widened alarm firing on a
   golden-document variant whose dict arrays doubled.
"""

from __future__ import annotations

import pytest

import json
import os

from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
    flatten_width_report,
    json_schema_profile,
    json_schema_profile_deep,
    schema_evolution_report,
)

def _profile(spark, docs, max_depth=20):
    df = spark.createDataFrame(docs, "batch long, j string")
    return {
        (r["batch"], r["path"]): r["kinds"]
        for r in json_schema_profile_deep(df, "batch", "j", max_depth).collect()
    }


def test_deep_profile_leaf_paths_and_kinds(spark):
    doc = (
        '{"a":1,"b":{"c":"s1","d":[1,"x",{"e":true}]},'
        '"f":"{\\"g\\":1}","h":{},"i":[],"n":null}'
    )
    got = _profile(spark, [(1, doc)])
    assert got == {
        (1, "a"): "number",
        (1, "b.c"): "string",
        (1, "b.d[0]"): "number",
        (1, "b.d[1]"): "string",
        (1, "b.d[2].e"): "boolean",
        # a STRING whose content looks like JSON is NEVER descended —
        # tokens stay quoted through the walk
        (1, "f"): "string",
        # empty containers surface as their own leaves (kind 'string':
        # the token is JSON text)
        (1, "h"): "string",
        (1, "i"): "string",
        (1, "n"): "null",
    }


def test_deep_profile_depth_cap_truncates(spark):
    doc = '{"a":{"b":{"c":{"d":5}}}}'
    # cap at 2 levels: the depth-2 node surfaces as one JSON-text leaf
    # (the reference's A12 truncation), not its descendants
    got = _profile(spark, [(1, doc)], max_depth=2)
    assert got == {(1, "a.b"): "string"}
    # and the default cap (the reference's max_depth=20) reaches the leaf
    assert _profile(spark, [(1, doc)]) == {(1, "a.b.c.d"): "number"}


def test_deep_profile_kind_set_merges_within_batch(spark):
    docs = [(1, '{"a":{"v":1}}'), (1, '{"a":{"v":"s"}}'), (1, '{"a":{"v":true}}')]
    got = _profile(spark, docs)
    assert got == {(1, "a.v"): "boolean+number+string"}


def test_nested_retype_caught_deep_missed_by_top_level(spark):
    """The r11 gap verbatim: lines[0].charge flips number→string at depth
    3. The deep report surfaces it; the top-level profile cannot (the
    envelope column 'lines' stringifies and stays kind 'string')."""
    rows = []
    for batch in (1, 2):
        for i in range(3):
            charge = str(i) if batch == 1 else f'"x{i}"'
            rows.append((batch, '{"lines":[{"charge":' + charge + "}]}"))
    df = spark.createDataFrame(rows, "batch long, j string")
    deep = schema_evolution_report(
        json_schema_profile_deep(df, "batch", "j")
    ).collect()
    assert [tuple(r) for r in deep] == [
        (2, "lines[0].charge", "kind_changed", "number", "string")
    ]
    shallow = schema_evolution_report(
        json_schema_profile(df, "batch", "j")
    ).collect()
    assert shallow == []  # the top-level watch is blind to it


@pytest.mark.slow
def test_deep_schema_watch_stream_catches_nested_drift(spark, tmpdir):
    """Streaming twin: run_schema_watch_stream(deep=True) appends deep
    profiles per micro-batch; read_schema_report surfaces the nested
    retype AND a nested path that vanishes."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        read_schema_report,
        run_schema_watch_stream,
    )

    rows = []
    for batch in range(3):
        for i in range(3):
            q = str(i) if batch < 2 else f'"x{i}"'  # retypes in batch 2
            extra = ',"m":{"u":7}' if batch < 1 else ""  # vanishes in batch 1
            rows.append((batch, '{"o":{"lines":[{"q":' + q + "}]}" + extra + "}"))
    df = spark.createDataFrame(rows, "batch long, j string")
    src = os.path.join(tmpdir, "deep_src")
    for b in range(3):
        df.filter(f"batch = {b}").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("batch long, j string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    profiles = os.path.join(tmpdir, "deep_profiles")
    q = run_schema_watch_stream(
        stream,
        profiles,
        os.path.join(tmpdir, "deep_ckpt"),
        "batch",
        "j",
        deep=True,
    )
    assert q.awaitTermination(600), "stream drain timed out"
    got = {tuple(r) for r in read_schema_report(spark, profiles).collect()}
    assert got == {
        (1, "m.u", "missing", "number", None),
        (2, "o.lines[0].q", "kind_changed", "number", "string"),
    }


def test_read_schema_report_before_first_batch_is_empty(spark, tmpdir):
    """Monitoring can poll the report from stream start: no mb=* data →
    empty report with the report's schema, not AnalysisException."""
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        read_schema_report,
    )

    rep = read_schema_report(spark, os.path.join(tmpdir, "nothing_here"))
    assert rep.columns == ["batch", "path", "status", "prev_kinds", "cur_kinds"]
    assert rep.count() == 0


# ---------------------------------------------------------------------------
# flatten width contract (q249)
# ---------------------------------------------------------------------------


def test_width_report_matches_flatten_plan(spark):
    """n_cols is not a proxy — per batch it equals the width of the
    flatten select the engine would actually generate over that batch's
    documents (dict arrays pivot per observed index, primitive arrays
    collapse to one serialized cell)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import (
        flatten_plan,
    )

    batches = {
        1: [
            '{"a":1,"o":{"c":"s"},"lines":[{"q":1},{"q":2}],"tags":["x","y"]}',
            '{"a":2,"o":{"c":"t"},"lines":[{"q":3}],"tags":["z"]}',
        ],
        2: [
            '{"a":1,"lines":[{"q":1},{"q":2},{"q":3},{"q":4}],"tags":["x"]}',
        ],
    }
    rows = [(b, j) for b, docs in batches.items() for j in docs]
    # sentinel batch 0 (a copy of batch 1): the report only emits batches
    # WITH a predecessor, and the test wants both real batches' widths
    rows += [(0, j) for j in batches[1]]
    df = spark.createDataFrame(rows, "batch long, j string")
    widths = {
        r["batch"]: r["n_cols"]
        for r in flatten_width_report(df, "batch", "j").collect()
    }
    for b, docs in batches.items():
        parsed = spark.read.json(
            spark.createDataFrame([(j,) for j in docs], "j string").rdd.map(
                lambda r: r["j"]
            )
        )
        assert widths[b] == len(flatten_plan(parsed)), f"batch {b}"


def test_width_alarm_fires_on_widened_golden_variant(spark, golden_doc):
    """The VERDICT r11 item-8 scenario end-to-end: batch 1 is the
    golden document; batch 2 is the same document with every
    dict-array's elements DOUBLED (the feed that doubles its array
    lengths, ElasticSearch ETL.py:63-65). The alarm fires on batch 2."""
    with open(golden_doc) as f:
        doc = json.load(f)

    def widen(node):
        if isinstance(node, dict):
            return {k: widen(v) for k, v in node.items()}
        if isinstance(node, list) and node and isinstance(node[0], dict):
            return [widen(e) for e in node] + [widen(e) for e in node]
        return node

    df = spark.createDataFrame(
        [(1, json.dumps(doc)), (2, json.dumps(widen(doc)))],
        "batch long, j string",
    )
    rows = {r["batch"]: r for r in flatten_width_report(df, "batch", "j").collect()}
    assert set(rows) == {2}  # batch 1 has no predecessor
    r = rows[2]
    assert r["widened"] == 1
    assert r["n_cols"] >= 2 * r["prev_n_cols"] - 10  # width ~doubles
    assert r["max_fanout"] == 2 * r["prev_max_fanout"]


def test_width_steady_feed_never_alarms(spark):
    docs = [
        (b, '{"a":%d,"lines":[{"q":1},{"q":2}]}' % i)
        for b in range(1, 5)
        for i in range(3)
    ]
    df = spark.createDataFrame(docs, "batch long, j string")
    out = flatten_width_report(df, "batch", "j").collect()
    assert len(out) == 3 and all(r["widened"] == 0 for r in out)


# ---------------------------------------------------------------------------
# volume contract (q250)
# ---------------------------------------------------------------------------


def _vol_docs(counts: dict[int, int]) -> list[tuple[int, str]]:
    return [
        (b, '{"u":%d,"pad":"xxxxxxxx"}' % i)
        for b, n in counts.items()
        for i in range(n)
    ]


def test_volume_drop_alarm_fires_on_half_empty_batch(spark):
    """VERDICT r12 item 7's done-criterion: a half-empty batch fires the
    alarm. Batches 1-8 carry 10 docs; batch 9 carries 4 (≤ half the
    trailing mean of 10) → dropped=1; the steady batches never alarm."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_report,
    )

    counts = {b: 10 for b in range(1, 9)}
    counts[9] = 4
    df = spark.createDataFrame(_vol_docs(counts), "batch long, j string")
    rows = {r["batch"]: r for r in batch_volume_report(df, "batch", "j").collect()}
    assert set(rows) == set(range(2, 10))  # batch 1 has no baseline
    assert rows[9]["dropped"] == 1 and rows[9]["surged"] == 0
    assert all(rows[b]["dropped"] == 0 for b in range(2, 9))
    assert all(rows[b]["surged"] == 0 for b in range(2, 9))
    # the baseline is the trailing-7 window, not all history
    assert rows[9]["baseline_batches"] == 7 and rows[9]["baseline_docs"] == 70


def test_volume_surge_alarm_and_byte_axis(spark):
    """surged fires at ≥2× the trailing mean; the BYTE axis alarms on its
    own even when doc counts hold steady (a feed whose documents silently
    balloon)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_report,
    )

    counts = {b: 10 for b in range(1, 6)}
    counts[6] = 25  # ≥ 2x the mean of 10
    df = spark.createDataFrame(_vol_docs(counts), "batch long, j string")
    rows = {r["batch"]: r for r in batch_volume_report(df, "batch", "j").collect()}
    assert rows[6]["surged"] == 1 and rows[6]["dropped"] == 0

    docs = [(b, '{"u":1}') for b in range(1, 6) for _ in range(10)]
    docs += [(6, '{"u":1,"blob":"' + "x" * 50 + '"}') for _ in range(10)]
    df2 = spark.createDataFrame(docs, "batch long, j string")
    rows2 = {r["batch"]: r for r in batch_volume_report(df2, "batch", "j").collect()}
    assert rows2[6]["n_docs"] == 10  # same count...
    assert rows2[6]["surged"] == 1  # ...but the byte mass alarms


def test_volume_gap_shrinks_baseline_instead_of_mispairing(spark):
    """A RANGE frame is ordinal-aware: a missing batch id shrinks the
    trailing window rather than pairing batch 9 with batch 5's stats."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_report,
    )

    counts = {1: 10, 2: 10, 3: 10, 9: 10, 10: 10}
    df = spark.createDataFrame(_vol_docs(counts), "batch long, j string")
    rows = {r["batch"]: r for r in batch_volume_report(df, "batch", "j").collect()}
    # batch 9's trailing-7 window is batches 2..8 → only 2,3 observed
    assert rows[9]["baseline_batches"] == 2 and rows[9]["baseline_docs"] == 20
    assert 1 not in rows  # nothing precedes batch 1 in range


@pytest.mark.slow
def test_volume_watch_stream_matches_batch(spark, tmpdir):
    """Streaming twin parity — including a logical batch SPLIT across
    micro-batches, whose count/byte partials must re-sum exactly."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_report,
    )
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        read_volume_report,
        run_volume_watch_stream,
    )

    counts = {1: 10, 2: 12, 3: 3, 4: 11}
    df = spark.createDataFrame(_vol_docs(counts), "batch long, j string")
    src = os.path.join(tmpdir, "vol_src")
    # one file per batch, PLUS batch 2 split over two files → with
    # maxFilesPerTrigger=1 its profile arrives as two partials
    df.filter("batch = 1").coalesce(1).write.mode("append").parquet(src)
    df.filter("batch = 2 AND j LIKE '%u\":1,%' ").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter("batch = 2 AND NOT j LIKE '%u\":1,%' ").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter("batch >= 3").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("batch long, j string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    profiles = os.path.join(tmpdir, "vol_profiles")
    q = run_volume_watch_stream(
        stream, profiles, os.path.join(tmpdir, "vol_ckpt"), "batch", "j"
    )
    assert q.awaitTermination(600), "stream drain timed out"
    got = {tuple(r) for r in read_volume_report(spark, profiles).collect()}
    want = {tuple(r) for r in batch_volume_report(df, "batch", "j").collect()}
    assert got == want and len(want) == 3


def test_read_volume_report_before_first_batch_is_empty(spark, tmpdir):
    from etl_pipeline_for_elasticsearch_json_document_spark.streaming.schema_watch import (
        read_volume_report,
    )

    rep = read_volume_report(spark, os.path.join(tmpdir, "no_volume_here"))
    assert rep.columns == [
        "batch", "n_docs", "n_bytes", "baseline_batches",
        "baseline_docs", "baseline_bytes", "dropped", "surged",
    ]
    assert rep.count() == 0
