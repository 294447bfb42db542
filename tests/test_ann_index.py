"""Versioned IVF ANN-index maintenance contract (operators/ann_index.py):
append equivalence of incremental upserts, crash-safe version commits,
health-report drift/imbalance triggers, and GC interop.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
    ivf_build,
    ivf_health,
    ivf_upsert,
    read_ann_index,
)
from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
    kmeans_assign,
    kmeans_fit,
)


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _split(emb):
    build = emb.filter(F.col("vec_id") < 40)
    batch = emb.filter(F.col("vec_id") >= 40).limit(1000)
    return build, batch


@pytest.mark.slow
def test_build_assigns_every_vector(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    build, _ = _split(emb)
    asg = ivf_build(spark, path, build, k=4)
    assert asg.count() == build.count()
    cents, postings = read_ann_index(spark, path)
    assert cents.count() == 4
    assert postings.count() == build.count()
    # the stored assignment IS kmeans_assign against the stored codebook
    direct = kmeans_assign(
        build,
        cents.select(
            F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
        ),
    )
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_upsert_append_equivalence(spark, emb, tmp_path):
    """build(A) + upsert(B) == assign(A∪B) against the v=0 codebook."""
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    ivf_upsert(spark, path, batch)
    cents, postings = read_ann_index(spark, path)
    oneshot = kmeans_assign(
        build.unionByName(batch),
        cents.select(
            F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
        ),
    )
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in oneshot.collect()
    }


def test_upsert_is_last_write_wins(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    build, _ = _split(emb)
    ivf_build(spark, path, build, k=4)
    n0 = read_ann_index(spark, path)[1].count()
    # re-upserting vectors already indexed must not duplicate postings
    ivf_upsert(spark, path, build.limit(5))
    assert read_ann_index(spark, path)[1].count() == n0


def test_uncommitted_version_is_skipped(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    ivf_upsert(spark, path, batch)
    # simulate a crash: a dangling version dir without the marker
    os.makedirs(os.path.join(path, "v=9", "postings"))
    _, postings = read_ann_index(spark, path)
    assert postings.count() == build.count() + batch.count()
    h = ivf_health(spark, path).collect()[0]
    assert h["version"] == 1


def test_upsert_without_build_raises(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="ivf_build"):
        ivf_upsert(spark, str(tmp_path / "missing"), emb)


@pytest.mark.slow
def test_health_report_shape_and_drift(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    h0 = ivf_health(spark, path).collect()[0]
    assert h0["n_vectors"] == build.count()
    assert h0["drift_ratio"] is None  # nothing post-build yet
    ivf_upsert(spark, path, batch)
    h1 = ivf_health(spark, path).collect()[0]
    assert h1["n_vectors"] == build.count() + batch.count()
    assert h1["drift_ratio"] is not None and h1["drift_ratio"] > 0


@pytest.mark.slow
def test_health_flags_imbalance(spark, emb, tmp_path):
    """Upserting a pile of copies of one build vector floods one cell —
    occupancy imbalance crosses the threshold and needs_refit flips."""
    path = str(tmp_path / "ivf")
    build, _ = _split(emb)
    ivf_build(spark, path, build, k=4)
    one = build.orderBy("vec_id").limit(1)
    flood = (
        one.crossJoin(spark.range(200).select(F.col("id").alias("rep")))
        .select((F.col("vec_id") + 1000 + F.col("rep")).alias("vec_id"), "embedding")
    )
    ivf_upsert(spark, path, flood)
    h = ivf_health(spark, path, imbalance_threshold=3.0).collect()[0]
    assert h["imbalance"] > 3.0
    assert h["needs_refit"]


@pytest.mark.slow
def test_compact_and_prune_ann_versions(spark, emb, tmp_path):
    """Delta-store GC discipline (r9): deltas after the last snapshot
    are load-bearing, so nothing behind them is deletable until a
    compact rolls the tail up; after it the pre-snapshot versions go,
    the resolved postings are unchanged, and health still runs with the
    snapshot as its drift baseline."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        prune_ann_versions,
    )

    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)                          # v=0 snapshot
    ivf_upsert(spark, path, batch.filter(F.col("vec_id") < 50))  # v=1 delta
    ivf_upsert(spark, path, batch.filter(F.col("vec_id") >= 50)) # v=2 delta
    # deltas v=1/v=2 resolve through v=0: only-floor is v=0, nothing older
    assert prune_ann_versions(path, keep_last=2) == []
    assert compact_ann_index(spark, path) == 3                  # snapshot
    # one more (replace-)upsert so the snapshot can become the floor
    ivf_upsert(spark, path, batch.filter(F.col("vec_id") < 50))  # v=4 delta
    assert prune_ann_versions(path, keep_last=2) == [0, 1, 2]
    _, postings = read_ann_index(spark, path)
    assert postings.count() == build.count() + batch.count()
    # health still works with the pre-snapshot lineage pruned
    assert ivf_health(spark, path).collect()[0]["version"] == 4


@pytest.mark.slow
def test_refit_resets_drift(spark, emb, tmp_path):
    """The refit loop: when health says refit, rebuilding on the full
    postings' vectors yields a fresh v=0 store in a new path whose
    drift is null again — the operational runbook in miniature."""
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    ivf_upsert(spark, path, batch)
    path2 = str(tmp_path / "ivf_refit")
    ivf_build(spark, path2, build.unionByName(batch), k=4)
    h = ivf_health(spark, path2).collect()[0]
    assert h["drift_ratio"] is None
    assert h["n_vectors"] == build.count() + batch.count()


def test_pandas_assignment_agrees_with_expr(spark, emb):
    """The Arrow/BLAS large-k path and the inline-expression path pick
    the same cell for every vector on the real table (dist may differ in
    the 6th decimal — documented)."""
    cents = kmeans_fit(emb.filter(F.col("vec_id") < 40), k=4)
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign_pandas,
    )

    a = {r["vec_id"]: r["cid"] for r in kmeans_assign(emb, cents).collect()}
    b = {r["vec_id"]: r["cid"] for r in kmeans_assign_pandas(emb, cents).collect()}
    assert a == b
    d_expr = {r["vec_id"]: r["dist"] for r in kmeans_assign(emb, cents).collect()}
    d_pd = {r["vec_id"]: r["dist"] for r in kmeans_assign_pandas(emb, cents).collect()}
    for v in d_expr:
        assert abs(d_expr[v] - d_pd[v]) < 1e-4


def test_pandas_store_append_equivalence(spark, emb, tmp_path):
    """A store maintained end-to-end with assign='pandas' has the same
    append-equivalence contract as the expr store."""
    path = str(tmp_path / "ivf_pd")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4, assign="pandas")
    ivf_upsert(spark, path, batch, assign="pandas")
    cents, postings = read_ann_index(spark, path)
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign_pandas,
    )

    oneshot = kmeans_assign_pandas(
        build.unionByName(batch),
        cents.select(
            F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
        ),
    )
    assert {tuple(r) for r in postings.collect()} == {
        tuple(r) for r in oneshot.collect()
    }


def test_unknown_assign_method_raises(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="assign method"):
        ivf_build(spark, str(tmp_path / "x"), emb.limit(8), k=2, assign="nope")


def test_pandas_fit_matches_expr_fit(spark, emb):
    """Both assignment engines drive Lloyd's to the same codebook on the
    real table (same exact-decimal update; assignments agree)."""
    a = kmeans_fit(emb, k=4, iterations=2).collect()
    b = kmeans_fit(emb, k=4, iterations=2, assign="pandas").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pandas_fit_handles_large_k(spark, emb):
    """k=64 is un-plannable with inline expressions (O(k*dim) plan) but
    routine for the Arrow path — the store's real IVF regime."""
    cents = kmeans_fit(emb, k=64, iterations=2, assign="pandas")
    assert cents.count() == 64


def test_ivf_query_exact_when_probing_all_cells(spark, emb, tmp_path):
    """nprobe = n_cells makes the store query EXACT: equal to numpy
    brute-force L2 top-k (ids and 6-dp distances)."""
    import numpy as np

    path = str(tmp_path / "ivf")
    ivf_build(spark, path, emb, k=4)
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
    )

    qs = emb.filter(F.col("vec_id") < 5)
    got = {}
    for r in ivf_query(spark, path, qs, emb, k=3, nprobe=4).collect():
        got.setdefault(r["q_id"], []).append((r["rank"], r["n_id"], r["dist"]))
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    for qid in range(5):
        qv = m[ids == qid][0]
        d = np.round(((m - qv) ** 2).sum(axis=1), 6)
        order = sorted(
            (dv, i) for dv, i in zip(d, ids) if i != qid
        )[:3]
        want = [(rk + 1, i, dv) for rk, (dv, i) in enumerate(order)]
        assert sorted(got[qid]) == [
            (rk, i, pytest.approx(dv, abs=2e-6)) for rk, i, dv in want
        ]


def test_ivf_query_recall_and_pruning(spark, emb, tmp_path):
    """nprobe=1 reads ~1/n_cells of the corpus and still finds most true
    neighbors on the real table (clustered data); every returned neighbor
    must come from a probed cell."""
    path = str(tmp_path / "ivf")
    ivf_build(spark, path, emb, k=8)
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
    )

    qs = emb.filter(F.col("vec_id") < 20)
    approx = ivf_query(spark, path, qs, emb, k=3, nprobe=1)
    exact = ivf_query(spark, path, qs, emb, k=3, nprobe=8)
    a = {(r["q_id"], r["n_id"]) for r in approx.collect()}
    e = {(r["q_id"], r["n_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.5  # meaningful recall at 1/8 the reads


def test_pandas_assignment_near_tie_breaks_to_lowest_cid(spark):
    """Two centroids within ~1e-8 of the same vector — NOT an exact
    float tie. Both engines round distances to 6 dp before the argmin,
    so both resolve the sub-1e-6 near-tie to the LOWEST cid; an
    unrounded argmin would let numpy's raw float comparison pick either
    side depending on summation order."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        kmeans_assign_pandas,
    )

    vecs = spark.createDataFrame(
        [(0, [0.5, 0.0]), (1, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        # centroid 1 is 1e-8 closer to vector 0 than centroid 0 is —
        # identical at 6 dp, so the 6-dp contract says cid=0 wins
        [(0, [0.0, 0.0]), (1, [1.0 - 1e-8, 0.0]), (2, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    a = {r["vec_id"]: r["cid"] for r in kmeans_assign(vecs, cents).collect()}
    b = {r["vec_id"]: r["cid"] for r in kmeans_assign_pandas(vecs, cents).collect()}
    assert a == b == {0: 0, 1: 2}


def test_ivf_build_refuses_live_store(spark, emb, tmp_path):
    """Rebuilding into a path with committed versions would land as an
    invisible v=0 (readers serve the latest) — refused loudly; the refit
    runbook is a FRESH path."""
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    with pytest.raises(ValueError, match="refuses to bury"):
        ivf_build(spark, path, build.unionByName(batch), k=4)


@pytest.mark.slow
def test_health_baseline_shifts_after_gc(spark, emb, tmp_path):
    """GC'ing the pre-snapshot lineage makes the drift baseline the
    earliest RETAINED version — the documented intent: the 'build set'
    for drift purposes is the oldest lineage still on disk, so
    needs_refit stays meaningful (comparing recent arrivals against the
    oldest surviving cohort) instead of erroring on a GC'd dir."""
    path = str(tmp_path / "ivf")
    build = emb.filter(F.col("vec_id") < 40)
    b1 = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 80))
    b2 = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 120))
    ivf_build(spark, path, build, k=4)          # v=0
    ivf_upsert(spark, path, b1)                 # v=1
    ivf_upsert(spark, path, b2)                 # v=2
    before = ivf_health(spark, path).collect()[0]
    assert before["n_vectors"] == 120
    # GC discipline for the delta store: compact (v=3 snapshot), add a
    # delta on top (v=4), then prune — v=0..2 fall behind the floor
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        prune_ann_versions,
    )

    compact_ann_index(spark, path)              # v=3 snapshot (baseline-to-be)
    b3 = emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 160))
    ivf_upsert(spark, path, b3)                 # v=4 delta
    removed = prune_ann_versions(path, keep_last=2)
    assert removed == [0, 1, 2]
    after = ivf_health(spark, path).collect()[0]
    # postings are cumulative, so totals only grew by the new batch...
    assert after["n_vectors"] == before["n_vectors"] + 40
    assert after["version"] == 4
    # ...and the drift base set grew from v=0's 40 build vectors to the
    # snapshot's 120, so only b3 counts as "new" now
    assert after["mean_dist_new"] != before["mean_dist_new"]
    assert after["needs_refit"] in (True, False)  # still a decidable signal


def test_layout_query_parity_and_partition_pruning(spark, emb, tmp_path):
    """The cid-partitioned serving layout: ivf_query_layout returns
    EXACTLY the semi-join form's neighbors, and its corpus scan reads
    ONLY the probed cid= directories (partition pruning at the scan, the
    at-scale form ivf_query's docstring promises)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
        ivf_query_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    corpus = emb.filter(F.col("vec_id") < 200)
    ivf_build(spark, path, corpus, k=8)
    pinned = write_ivf_layout(spark, path, corpus, layout)
    assert pinned == 0
    # 2 queries x nprobe 2 probe at most 4 of the 8 cells
    queries = emb.filter(F.col("vec_id") < 2)

    semi = ivf_query(spark, path, queries, corpus, k=5, nprobe=2)
    laid = ivf_query_layout(spark, path, layout, queries, k=5, nprobe=2)
    assert {tuple(r) for r in laid.collect()} == {
        tuple(r) for r in semi.collect()
    }

    # pruning: the corpus scan's FileIndex itself must cover strictly
    # fewer cells than the store's 8. r14 made the pruning the PATH LIST
    # (the probed cid= dirs are read directly — a root read re-listed
    # every cell dir in the store per serving call, an O(n_cells) driver
    # term), so inputFiles() — the files the scan's FileIndex holds — is
    # now the exact check: before r14 it listed the unpruned index and
    # could not show pruning; now a full-store listing FAILS this.
    files = laid.inputFiles()
    assert files, "layout scan lists no files"
    probed = {f.split("cid=")[1].split("/")[0] for f in files if "cid=" in f}
    all_cells = {
        d.split("=")[1] for d in os.listdir(layout) if d.startswith("cid=")
    }
    assert probed and probed < all_cells  # proper subset: pruned, not full scan
    # and the corpus side reaches the scorer without an Exchange: the
    # probe relation is broadcast onto it
    plan = laid._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_layout_version_pin_is_enforced(spark, emb, tmp_path):
    """An upsert advances the store; the layout's _STORE_VERSION pin no
    longer matches and serving from it is refused (stale cell
    assignments prune wrong)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)
    queries = emb.filter(F.col("vec_id") < 3)
    assert ivf_query_layout(spark, path, layout, queries, k=3, nprobe=2).count() > 0
    ivf_upsert(spark, path, batch)  # store moves to v=1
    with pytest.raises(ValueError, match="re-run"):
        ivf_query_layout(spark, path, layout, queries, k=3, nprobe=2)
    # re-pinning the layout restores service
    write_ivf_layout(spark, path, build.unionByName(batch), layout)
    assert ivf_query_layout(spark, path, layout, queries, k=3, nprobe=2).count() > 0


def test_layout_append_catches_up_one_upsert(spark, emb, tmp_path):
    """write_ivf_layout once, then per-upsert append_ivf_layout: the
    appended layout serves EXACTLY what a full rewrite would — at
    |batch| write cost instead of |corpus|."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        append_ivf_layout,
        ivf_query,
        ivf_query_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 120)
    batch = emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 200))
    ivf_build(spark, path, build, k=8)
    write_ivf_layout(spark, path, build, layout)
    ivf_upsert(spark, path, batch)
    assert append_ivf_layout(spark, path, batch, layout) == 1

    queries = emb.filter(F.col("vec_id") < 2)
    corpus = build.unionByName(batch)
    semi = ivf_query(spark, path, queries, corpus, k=5, nprobe=3)
    laid = ivf_query_layout(spark, path, layout, queries, k=5, nprobe=3)
    assert {tuple(r) for r in laid.collect()} == {
        tuple(r) for r in semi.collect()
    }


def test_layout_append_refuses_replaces_and_gaps(spark, emb, tmp_path):
    """Replace-upserts (id already in the pinned layout) and out-of-order
    appends are refused loudly — an append cannot retract stale rows and
    cannot skip a version."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        append_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 100)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)

    # replace-upsert: vec 5 already lives in the pinned layout
    replace = emb.filter((F.col("vec_id") == 5) | (F.col("vec_id") == 150))
    ivf_upsert(spark, path, replace)
    with pytest.raises(ValueError, match="cannot retract"):
        append_ivf_layout(spark, path, replace, layout)

    # gap: two upserts ahead of the pin
    b2 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
    ivf_upsert(spark, path, b2)
    with pytest.raises(ValueError, match="exactly one upsert"):
        append_ivf_layout(spark, path, b2, layout)


@pytest.mark.slow
def test_large_k_store_serves_through_layout(spark, emb, tmp_path):
    """The large-k regime end to end: a k=32 store FITTED and BUILT on
    the Arrow/BLAS path (inline expressions would be un-plannable at
    real cell counts), served through the cid-partitioned layout. The
    layout query's probe side is DATA rows (broadcast centroid table),
    never per-centroid expressions, so the serving plan is O(1) in k —
    and its results match the layout-agnostic semi-join form exactly."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
        ivf_query_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf_bigk")
    layout = str(tmp_path / "layout_bigk")
    corpus = emb
    ivf_build(spark, path, corpus, k=32, assign="pandas")
    write_ivf_layout(spark, path, corpus, layout)
    queries = emb.filter(F.col("vec_id") < 3)
    semi = ivf_query(spark, path, queries, corpus, k=5, nprobe=4)
    laid = ivf_query_layout(spark, path, layout, queries, k=5, nprobe=4)
    assert {tuple(r) for r in laid.collect()} == {
        tuple(r) for r in semi.collect()
    }
    # 3 queries x nprobe 4 probe at most 12 of the 32 cells. r14: the
    # pruning is the scan's PATH LIST (probed dirs read directly, no
    # O(n_cells) root listing), so the FileIndex's own files are the check.
    probed = {
        f.split("cid=")[1].split("/")[0]
        for f in laid.inputFiles()
        if "cid=" in f
    }
    assert probed and len(probed) <= 12


@pytest.mark.slow
def test_read_as_of_version(spark, emb, tmp_path):
    """Time travel over the v=N lineage: reading AS OF v=0 reproduces the
    pre-upsert postings exactly; a GC'd version raises instead of
    silently serving a neighbor."""
    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    v0 = {tuple(r) for r in read_ann_index(spark, path)[1].collect()}
    ivf_upsert(spark, path, batch)
    asof0 = {tuple(r) for r in read_ann_index(spark, path, version=0)[1].collect()}
    assert asof0 == v0
    latest = {tuple(r) for r in read_ann_index(spark, path)[1].collect()}
    assert len(latest) == len(v0) + batch.count()
    with pytest.raises(ValueError, match="not committed"):
        read_ann_index(spark, path, version=7)
    # GC v=0 behind a snapshot floor (compact v=2, delta v=3, prune):
    # the pruned version now raises instead of silently serving a neighbor
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        prune_ann_versions,
    )

    compact_ann_index(spark, path)                                # v=2 snapshot
    ivf_upsert(spark, path, batch.limit(5))                        # v=3 delta
    assert prune_ann_versions(path, keep_last=2) == [0, 1]
    with pytest.raises(ValueError, match="GC'd"):
        read_ann_index(spark, path, version=0)
    # the retained lineage still resolves exactly
    assert {tuple(r) for r in read_ann_index(spark, path, version=2)[1].collect()} == latest


@pytest.mark.slow
def test_layout_append_three_cycles_stays_rewrite_equivalent(spark, emb, tmp_path):
    """Three successive upsert+append cycles: after each catch-up the
    appended layout serves exactly what a from-scratch rewrite of the
    full corpus would — the invariant that makes per-batch appends safe
    to run forever between refits."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        append_ivf_layout,
        ivf_query_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 80)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)
    corpus = build
    queries = emb.filter(F.col("vec_id") < 2)
    for lo, hi in ((80, 130), (130, 170), (170, 220)):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        ivf_upsert(spark, path, batch)
        append_ivf_layout(spark, path, batch, layout)
        corpus = corpus.unionByName(batch)
        got = ivf_query_layout(spark, path, layout, queries, k=4, nprobe=3)
        fresh_layout = str(tmp_path / f"rewrite_{lo}")
        write_ivf_layout(spark, path, corpus, fresh_layout)
        want = ivf_query_layout(spark, path, fresh_layout, queries, k=4, nprobe=3)
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in want.collect()
        }


@pytest.mark.slow
def test_layout_upsert_replaces_in_place(spark, emb, tmp_path):
    """r9 (VERDICT item 5): a REPLACE-upsert catches the serving layout
    up through upsert_ivf_layout — only the affected cid= partitions are
    rewritten, no full write_ivf_layout — and the layout then serves
    top-k identical to the semi-join ivf_query on the post-replace
    corpus, with the replaced id's stale row really retracted."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
        ivf_query_layout,
        read_ann_index,
        upsert_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 100)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)

    # vec 5 gets vec 150's embedding (a replace that can change its cell);
    # vecs 150-169 are brand new — one upsert mixing both cases
    moved = emb.filter(F.col("vec_id") == 150).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    new = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 170)).select(
        "vec_id", "embedding"
    )
    batch = moved.unionByName(new)
    ivf_upsert(spark, path, batch)
    assert upsert_ivf_layout(spark, path, batch, layout) == 1

    corpus = (
        build.select("vec_id", "embedding")
        .filter(F.col("vec_id") != 5)
        .unionByName(batch)
    )
    queries = emb.filter(F.col("vec_id") < 2)
    semi = ivf_query(spark, path, queries, corpus, k=5, nprobe=4)
    laid = ivf_query_layout(spark, path, layout, queries, k=5, nprobe=4)
    assert {tuple(r) for r in laid.collect()} == {tuple(r) for r in semi.collect()}

    # exactly one row for the replaced id, in its NEW committed cell
    row5 = spark.read.parquet(layout).filter(F.col("vec_id") == 5).collect()
    assert len(row5) == 1
    _, postings = read_ann_index(spark, path)
    cid5 = postings.filter(F.col("vec_id") == 5).collect()[0]["cid"]
    assert row5[0]["cid"] == cid5


def test_layout_upsert_deletes_emptied_cell(spark, tmp_path):
    """Dynamic partition overwrite only replaces partitions PRESENT in
    the written frame — a cell whose only vector moved away must be
    deleted explicitly, or its stale directory would keep serving the
    old row. Crafted store: cell B holds exactly one vector, which the
    replace moves into cell A."""
    import os

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query,
        ivf_query_layout,
        upsert_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    pts = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [0.5, 0.0]),
            (3, [0.0, 0.5]),
            (9, [10.0, 10.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ivf_build(spark, path, pts, k=2, iterations=2)
    write_ivf_layout(spark, path, pts, layout)
    cells_before = {d for d in os.listdir(layout) if d.startswith("cid=")}
    assert len(cells_before) == 2

    moved = spark.createDataFrame(
        [(9, [0.25, 0.25])], "vec_id long, embedding array<double>"
    )
    ivf_upsert(spark, path, moved)
    upsert_ivf_layout(spark, path, moved, layout)
    cells_after = {d for d in os.listdir(layout) if d.startswith("cid=")}
    assert len(cells_after) == 1  # the emptied cell directory is gone

    corpus = pts.filter(F.col("vec_id") != 9).unionByName(moved)
    queries = spark.createDataFrame(
        [(100, [9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    semi = ivf_query(spark, path, queries, corpus, k=4, nprobe=2)
    laid = ivf_query_layout(spark, path, layout, queries, k=4, nprobe=2)
    assert {tuple(r) for r in laid.collect()} == {tuple(r) for r in semi.collect()}
    # and nothing anywhere still claims the old location for vec 9
    assert spark.read.parquet(layout).filter(F.col("vec_id") == 9).count() == 1


def test_layout_upsert_refuses_unposted_batch_ids(spark, emb, tmp_path):
    """ADVICE r9: a batch id absent from the latest postings must raise —
    it would otherwise be dropped from `fresh` (inner join on postings)
    while still anti-joined out of `existing`, silently vanishing from
    the serving layout. The caller must pass exactly the ivf_upsert
    batch."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        upsert_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 60)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)
    b1 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    ivf_upsert(spark, path, b1)
    # wrong batch: overlaps b1 but includes ids the store never posted
    wrong = emb.filter((F.col("vec_id") >= 70) & (F.col("vec_id") < 90))
    with pytest.raises(ValueError, match="absent from the latest postings"):
        upsert_ivf_layout(spark, path, wrong, layout)
    # the correct batch still applies cleanly afterwards
    assert upsert_ivf_layout(spark, path, b1, layout) == 1
    got = {r["vec_id"] for r in spark.read.parquet(layout).collect()}
    assert {60, 79} <= got and 85 not in got


def test_layout_upsert_enforces_pin_order(spark, emb, tmp_path):
    """Same one-version-behind contract as append_ivf_layout."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        upsert_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 60)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)
    b1 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    b2 = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90))
    ivf_upsert(spark, path, b1)
    ivf_upsert(spark, path, b2)  # layout now two behind
    with pytest.raises(ValueError, match="exactly one store upsert"):
        upsert_ivf_layout(spark, path, b2, layout)


def test_upsert_commit_is_batch_sized(spark, emb, tmp_path):
    """The r9 store property: an upsert commits the BATCH's assignments
    only — one vector against a 120-vector store writes a 1-row delta
    (through r8 every upsert rewrote all 121 postings)."""
    import os

    path = str(tmp_path / "ivf")
    build = emb.filter(F.col("vec_id") < 120)
    ivf_build(spark, path, build, k=4)
    one = emb.filter(F.col("vec_id") >= 120).limit(1)
    ivf_upsert(spark, path, one)
    pdir = os.path.join(path, "v=1")
    paths = [os.path.join(pdir, d) for d in os.listdir(pdir) if d.startswith("p=")]
    assert (
        spark.read.schema("vec_id long, cid long, dist double")
        .parquet(*paths)
        .count()
        == 1
    )
    _, postings = read_ann_index(spark, path)
    assert postings.count() == 121


def test_prune_respects_pending_ann_ledger_pin(spark, emb, tmp_path):
    """The compact-crash-replay GC hole, through the ANN API: a pending
    ann_ingest marker pinning base_v must hold prune_ann_versions' floor
    even after two compacts — the replay re-reads its pinned base."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        prune_ann_versions,
    )

    path = str(tmp_path / "ivf")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    ivf_upsert(spark, path, batch.limit(5))          # v=1 delta
    ledger = os.path.join(path, "_ledger")
    os.makedirs(ledger)
    with open(os.path.join(ledger, "ckpt-3"), "w") as f:
        f.write("1")                                  # pending pin on v=1
    compact_ann_index(spark, path)                    # v=2 snapshot
    compact_ann_index(spark, path)                    # v=3 snapshot
    assert prune_ann_versions(path, keep_last=2) == []
    assert read_ann_index(spark, path, version=1)[1].count() > 0
    # the pin clears when the lineage's NEXT batch writes its marker
    ivf_upsert(spark, path, batch.limit(3))           # v=4 delta
    with open(os.path.join(ledger, "ckpt-4"), "w") as f:
        f.write("4")
    assert prune_ann_versions(path, keep_last=2) == [0, 1, 2]


def test_append_layout_refuses_foreign_batch(spark, emb, tmp_path):
    """A batch id absent from the latest postings means the caller passed
    a different frame than the one given to ivf_upsert — append must
    refuse (the inner join would silently drop the id while the pin
    advances past it forever)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        append_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build, batch = _split(emb)
    ivf_build(spark, path, build, k=4)
    write_ivf_layout(spark, path, build, layout)
    upserted = batch.limit(5)
    ivf_upsert(spark, path, upserted)
    foreign = batch.limit(8)  # superset: 3 ids never reached the store
    with pytest.raises(ValueError, match="absent from the latest postings"):
        append_ivf_layout(spark, path, foreign, layout)
    # the exact upserted batch still appends fine
    assert append_ivf_layout(spark, path, upserted, layout) == 1


def test_health_drift_sees_reupserted_ids(spark, emb, tmp_path):
    """Replace-upsert drift blindness (r10 review): re-upserting the SAME
    ids with drifted vectors must move drift_ratio off null — an id-only
    base test would classify every row as base and report no drift."""
    path = str(tmp_path / "ivf")
    build, _ = _split(emb)
    ivf_build(spark, path, build, k=4)
    assert ivf_health(spark, path).first()["drift_ratio"] is None
    drifted = build.select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(7.0) + F.lit(3.0)
        ).alias("embedding"),
    )
    ivf_upsert(spark, path, drifted)  # same ids, drifted vectors
    h = ivf_health(spark, path).first()
    assert h["drift_ratio"] is not None and h["drift_ratio"] > 1.0


@pytest.mark.slow
def test_layout_repin_rides_through_compaction(spark, emb, tmp_path):
    """r13: the per-micro-batch catch-up loop's scheduled-maintenance
    step. upsert_ivf_layout resolves postings through the snapshot+delta
    chain, so the delta tail must be compacted periodically — but a
    compact alone strands the layout (pin falls two behind). repin
    advances the pin across snapshot versions WITHOUT touching layout
    data (a compact snapshot at k IS the resolution at k-1), after which
    catch-ups resume and the layout still serves exactly the semi-join
    answer. repin refuses to cross a DELTA (content actually moved)."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        compact_ann_index,
        ivf_query,
        ivf_query_layout,
        repin_ivf_layout,
        upsert_ivf_layout,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    build = emb.filter(F.col("vec_id") < 100)
    ivf_build(spark, path, build, k=4)                       # v=0 snapshot
    write_ivf_layout(spark, path, build, layout)             # pin=0

    b1 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 120))
    ivf_upsert(spark, path, b1)                              # v=1 delta
    assert upsert_ivf_layout(spark, path, b1, layout) == 1   # pin=1

    assert compact_ann_index(spark, path) == 2               # v=2 snapshot
    # the pin is now one behind a SNAPSHOT whose content equals what the
    # layout already holds — repin advances without any data movement
    files_before = sorted(glob.glob(f"{layout}/cid=*/*.parquet"))
    assert repin_ivf_layout(path, layout) == 2
    assert sorted(glob.glob(f"{layout}/cid=*/*.parquet")) == files_before

    # catch-ups resume against the compacted store
    b2 = emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 140))
    ivf_upsert(spark, path, b2)                              # v=3 delta
    assert upsert_ivf_layout(spark, path, b2, layout) == 3
    corpus = build.unionByName(b1).unionByName(b2).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 2)
    semi = ivf_query(spark, path, queries, corpus, k=5, nprobe=4)
    laid = ivf_query_layout(spark, path, layout, queries, k=5, nprobe=4)
    assert {tuple(r) for r in laid.collect()} == {tuple(r) for r in semi.collect()}

    # a delta version is never crossed: v=4 is a delta the layout has not
    # absorbed, so repin is a no-op at pin=3 and the pin contract holds
    ivf_upsert(spark, path, emb.filter(F.col("vec_id") < 5))  # v=4 delta
    assert repin_ivf_layout(path, layout) == 3


def test_read_layout_cells_lists_only_requested_dirs(spark, tmp_path):
    """r14: serving reads list O(|requested cells|) paths, never the
    layout root — the root read's partition discovery is O(n_cells in
    store) per call (and a distributed listing job past 32 dirs), the
    structural term behind the flapping grown-store gate. Contract:
    (a) rows/schema identical to the root-read + isin filter it
    replaced, (b) a requested cell with no directory contributes zero
    rows instead of raising, (c) an all-missing request returns an
    EMPTY frame with the layout schema."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        _read_layout_cells,
        write_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    layout = str(tmp_path / "layout")
    pts = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    ivf_build(spark, path, pts, k=3, iterations=2)
    write_ivf_layout(spark, path, pts, layout)
    cells = sorted(
        int(d.split("=")[1]) for d in os.listdir(layout) if d.startswith("cid=")
    )
    assert len(cells) >= 2
    want = cells[:2]

    def key(rows):
        return {(r["vec_id"], tuple(r["embedding"]), r["cid"]) for r in rows}

    got = _read_layout_cells(spark, layout, want)
    ref = spark.read.parquet(layout).filter(F.col("cid").isin(want))
    assert got.schema == ref.schema
    assert key(got.collect()) == key(ref.collect())
    # (a') the scan's FileIndex holds only the requested dirs
    assert all(f"cid={want[0]}" in f or f"cid={want[1]}" in f for f in got.inputFiles())

    # (b) present + missing mix: the missing cell adds nothing
    missing = max(cells) + 7
    mixed = _read_layout_cells(spark, layout, [want[0], missing])
    only = _read_layout_cells(spark, layout, [want[0]])
    assert key(mixed.collect()) == key(only.collect())

    # (c) all-missing: empty frame, layout schema
    empty = _read_layout_cells(spark, layout, [missing, missing + 1])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["vec_id", "embedding", "cid"]


def test_read_layout_cells_reads_debris_empty_and_refuses_remote(spark, tmp_path):
    """A cid= directory holding no parquet files (a crashed write's
    debris) reads as zero rows with the layout schema instead of failing
    schema inference, and a non-local layout raises instead of reading
    as an empty layout."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        _read_layout_cells,
    )

    layout = str(tmp_path / "layout")
    os.makedirs(os.path.join(layout, "cid=3"))
    open(os.path.join(layout, "cid=3", "_SUCCESS"), "w").close()
    debris = _read_layout_cells(spark, layout, [3])
    assert debris.count() == 0
    assert [f.name for f in debris.schema.fields] == ["vec_id", "embedding", "cid"]
    with pytest.raises(ValueError, match="not a local path"):
        _read_layout_cells(spark, "s3a://bucket/layout", [3])


def test_layout_pin_refuses_non_local_layout(spark, emb, tmp_path):
    """The serving-layout pin is a local file like every store marker: a
    URI-scheme layout is refused before anything is read or written."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        ivf_query_layout,
        repin_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    ivf_build(spark, path, emb.filter(F.col("vec_id") < 30), k=2)
    remote = "s3a://bucket/layout"
    with pytest.raises(ValueError, match="not a local path"):
        ivf_query_layout(spark, path, remote, emb.limit(2))
    with pytest.raises(ValueError, match="not a local path"):
        repin_ivf_layout(path, remote)


def test_older_layout_store_is_refused(spark, tmp_path):
    """A store in the older per-version layout (committed
    v=0/{centroids,postings}, no centroids/ at the root) is refused, not
    read as empty: the shared union read finds no p= dirs in it, so an
    upsert would build on nothing and a compaction would commit an empty
    snapshot. No new version is written."""
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.ann_index import (
        CENTROIDS_SCHEMA,
        POSTINGS_SCHEMA,
        compact_ann_index,
        upsert_ivf_layout,
    )

    path = str(tmp_path / "ivf")
    v0 = os.path.join(path, "v=0")
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], CENTROIDS_SCHEMA
    ).write.parquet(os.path.join(v0, "centroids"))
    spark.createDataFrame([(5, 0, 0.0)], POSTINGS_SCHEMA).write.parquet(
        os.path.join(v0, "postings", "p=0")
    )
    for marker in ("_SNAPSHOT", "_COMMITTED"):
        open(os.path.join(v0, marker), "w").close()
    vecs = spark.createDataFrame(
        [(7, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    calls = [
        lambda: ivf_upsert(spark, path, vecs),
        lambda: compact_ann_index(spark, path),
        lambda: upsert_ivf_layout(spark, path, vecs, str(tmp_path / "layout")),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="older per-version layout"):
            call()
    assert sorted(d for d in os.listdir(path) if d.startswith("v=")) == ["v=0"]
