"""Persistent IVF (inverted-file) ANN index with incremental maintenance.

q42/q138 build their IVF structures per query run; a production
similarity-search service instead MAINTAINS the index as a versioned
store and ABSORBS new embedding batches without refitting the codebook —
this module is that store, the ANN sibling of
:mod:`index_maintenance` (fingerprints) and
:mod:`rollup_maintenance` (aggregates).

Layout (r9 revision — delta commits, the :mod:`operators.delta_store`
protocol adapted to a two-relation version): ``index_path/v=N/
{centroids, postings/p=X}`` plus a ``v=N/_COMMITTED`` marker written
LAST — a version exists only once both relations landed, so a crash
mid-write leaves a dangling dir that readers skip and the next writer
overwrites. Postings are hash-partitioned on ``pmod(xxhash64(vec_id),
P)`` (P in ``_META``) and each non-snapshot version is a DELTA holding
only that upsert's assignments — O(|batch|) written per commit (through
r8 every upsert rewrote the full postings relation). The postings AS OF
version V resolve LAST-WRITE-WINS per vec_id (max version) over the
latest snapshot ≤ V plus later deltas — exactly the replace-upsert merge
the r8 store applied eagerly. ``ivf_build`` commits v=0 as a snapshot;
:func:`compact_ann_index` folds the delta tail into a new snapshot;
:func:`prune_ann_versions` GCs behind the snapshot floor (deltas above
it stay load-bearing whatever their age). Centroids are k rows, rewritten
per version (frozen within a lineage — refits go to a fresh path).
Partitioning is by vec_id, NOT cid: a replace can move a vector between
cells, and resolution must see every version of a vec_id in one
partition to retract the stale row; the cid-pruned read lives in the
SERVING layout (:func:`write_ivf_layout`), which is the at-scale query
path anyway — :func:`ivf_query`'s store-side semi-join reads the
resolved postings in full and stays the layout-agnostic fallback.

The maintenance contract (pinned in tests/test_ann_index.py):

- **append equivalence** — build(A) then upsert(B) yields exactly the
  postings of assigning A∪B against the SAME v=0 codebook; incremental
  ingestion never changes any existing vector's cell.
- **no silent decay** — :func:`ivf_health` reports per-cell occupancy
  imbalance and the quantization drift of post-build vectors vs the
  build set, and flips ``needs_refit`` when either crosses its
  threshold. Upserts keep the index QUERYABLE while drifting; health is
  the measurement that schedules the (expensive) refit.

Scale: centroids are k×dim doubles (broadcast-sized, ride the task
closure exactly as :func:`similarity.kmeans_assign` does); an upsert is
a map-only assignment of the batch plus an O(|batch|) delta commit.
Postings are (id, cid, dist) — 24 bytes/vector, independent of dim. Serving at scale
goes through the cid-partitioned corpus layout
(:func:`write_ivf_layout` → :func:`ivf_query_layout`): probes become
partition pruning at the scan, reading ~nprobe/n_cells of the corpus
bytes per query batch with zero corpus shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
    kmeans_assign,
    kmeans_assign_pandas,
    kmeans_fit,
)


def _assign_fn(method: str):
    """'expr' = kmeans_assign (O(k·dim) inline plan; the oracle-checked
    small-k form). 'pandas' = kmeans_assign_pandas (Arrow/BLAS; the
    large-k scale path — plan size O(1) in k). The two agree on cell
    assignments; dist can differ in the 6th decimal, so pick ONE method
    per store and keep it for the store's lifetime."""
    if method == "expr":
        return kmeans_assign
    if method == "pandas":
        return kmeans_assign_pandas
    raise ValueError(f"unknown assign method {method!r}; use 'expr' or 'pandas'")

POSTINGS_SCHEMA = "vec_id long, cid long, dist double"
CENTROIDS_SCHEMA = "cid long, centroid array<double>"

# Version bookkeeping delegates to the shared protocol (the ANN store's
# v=N/_COMMITTED/_SNAPSHOT layout IS delta_store's — only the payload
# inside a version differs). Private aliases retained for call-site
# stability; re-implementing them here is the drift channel that let the
# r10 prune fixes (pending-pin guard, de-commit-first) bypass this module.
_committed_versions = delta_store.committed_versions
_is_snapshot = delta_store.is_snapshot


def _write_version(
    index_path: str,
    version: int,
    centroids: DataFrame,
    postings: DataFrame,
    snapshot: bool = False,
    reclaim_torn: bool = False,
) -> None:
    """Commit one version: atomic single-writer claim (the shared
    :func:`delta_store.claim_version` lock — two committers racing to the
    same version fail loudly, never interleave), then centroids (k rows,
    full), postings (delta or snapshot) hash-partitioned on vec_id,
    ``_SNAPSHOT`` (if any) before the ``_COMMITTED`` marker —
    atomic-or-absent, kind never ambiguous."""
    meta = delta_store.load_or_init_meta(index_path, delta_store.DEFAULT_PARTITIONS)
    P = meta["n_partitions"]
    vdir = delta_store.claim_version(index_path, version, reclaim_torn)
    centroids.write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    (
        postings.withColumn("p", delta_store.partition_expr(["vec_id"], P))
        .repartition(min(32, P), "p")
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(os.path.join(vdir, "postings"))
    )
    with open(os.path.join(vdir, "_P"), "w") as f:
        f.write(str(P))  # pruning safety if the store is ever re-sharded
    if snapshot:
        with open(os.path.join(vdir, "_SNAPSHOT"), "w"):
            pass
    with open(os.path.join(vdir, "_COMMITTED"), "w"):
        pass  # marker LAST: a version is atomic-or-absent


_postings_sources = delta_store.source_versions


def _read_postings(
    spark: SparkSession,
    index_path: str,
    version: int,
    touched_p: list[int] | None = None,
) -> DataFrame:
    """Postings AS OF ``version``, resolved LAST-WRITE-WINS per vec_id
    (``max_by`` over the version tag — replace-upserts retract their
    stale row by construction). ``touched_p`` prunes the union to those
    vec_id hash partitions — exact for id-probe reads (every version of
    one vec_id hashes to the same partition)."""
    sources = _postings_sources(index_path, version)
    # Fast path: a single-snapshot chain (fresh build, or just compacted)
    # needs no version tagging and no resolution aggregate — the snapshot
    # IS the resolved relation. This keeps the common read (one snapshot,
    # zero deltas) as cheap as the r8 monolith's.
    if len(sources) == 1 and _is_snapshot(index_path, sources[0]):
        meta_p = delta_store.load_or_init_meta(
            index_path, delta_store.DEFAULT_PARTITIONS
        )["n_partitions"]
        prune_this = (
            touched_p is not None
            and delta_store.version_partitions(index_path, sources[0]) == meta_p
        )
        pdir = os.path.join(index_path, f"v={sources[0]}", "postings")
        paths = [
            os.path.join(pdir, d)
            for d in os.listdir(pdir)
            if d.startswith("p=")
            and (not prune_this or int(d[2:]) in touched_p)
        ]
        if not paths:
            return spark.createDataFrame([], POSTINGS_SCHEMA)
        return spark.read.schema(POSTINGS_SCHEMA).parquet(*paths)
    meta_p = delta_store.load_or_init_meta(
        index_path, delta_store.DEFAULT_PARTITIONS
    )["n_partitions"]
    parts = []
    for v in sources:
        pdir = os.path.join(index_path, f"v={v}", "postings")
        # prune only versions written under the probe set's hash (the _P
        # sidecar; a version from before a re-shard reads whole)
        prune_this = (
            touched_p is not None
            and delta_store.version_partitions(index_path, v) == meta_p
        )
        paths = [
            os.path.join(pdir, d)
            for d in os.listdir(pdir)
            if d.startswith("p=")
            and (not prune_this or int(d[2:]) in touched_p)
        ]
        if paths:
            parts.append(
                spark.read.schema(POSTINGS_SCHEMA)
                .parquet(*paths)
                .withColumn("__v", F.lit(v))
            )
    if not parts:
        return spark.createDataFrame([], POSTINGS_SCHEMA)
    union = parts[0]
    for x in parts[1:]:
        union = union.unionByName(x)
    latest = union.groupBy("vec_id").agg(
        F.max_by(F.struct("cid", "dist"), F.col("__v")).alias("b")
    )
    return latest.select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist").alias("dist"))


def _read_layout_cells(
    spark: SparkSession, layout_path: str, cids
) -> DataFrame:
    """Read ONLY the given cells' ``cid=`` directories of a serving
    layout (``basePath`` recovers the partition column), instead of
    scanning the layout ROOT and filtering with ``cid IN (...)``.

    A root read prunes the SCAN fine, but its partition DISCOVERY lists
    every cell directory in the store first — an O(n_cells) driver cost
    per call, and past ``spark.sql.sources.parallelPartitionDiscovery.
    threshold`` (default 32) a distributed LISTING JOB. That term grows
    with the corpus no matter how few cells the caller touches: the r14
    gate decomposition measured the root listing at 0.06 s against an
    8-cell store vs 0.23 s against 64 cells, per call — the structural
    share of the flapping ``ann_layout_upsert_grown_ratio``. Listing
    here is O(|cids|), bounded by the caller's own probe/batch.

    A missing directory (a probed or newly-assigned cell with no layout
    rows yet) contributes zero rows, exactly like the root-read +
    ``isin`` filter it replaces."""
    paths = [
        os.path.join(layout_path, f"cid={int(c)}")
        for c in cids
        if os.path.isdir(os.path.join(layout_path, f"cid={int(c)}"))
    ]
    if not paths:
        return spark.createDataFrame(
            [], "vec_id long, embedding array<double>, cid int"
        )
    return spark.read.option("basePath", layout_path).parquet(*paths)


def read_ann_index(
    spark: SparkSession, index_path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """The committed (centroids, postings) pair — latest by default, or
    AS OF an explicit ``version`` (time travel over the ``v=N`` lineage:
    reproduce what a query served before an upsert, diff two versions,
    debug a drift report) — postings resolve last-write-wins over the
    snapshot+delta chain. A requested version that is missing or GC'd
    (:func:`prune_ann_versions`) raises instead of silently serving a
    neighbor. Empty relations with the right schemas if nothing
    is committed and no version was requested."""
    versions = _committed_versions(index_path)
    if version is not None:
        if version not in versions:
            raise ValueError(
                f"version {version} is not committed at {index_path} "
                f"(committed: {versions}) — it may have been GC'd by "
                "prune_ann_versions"
            )
    elif not versions:
        return (
            spark.createDataFrame([], CENTROIDS_SCHEMA),
            spark.createDataFrame([], POSTINGS_SCHEMA),
        )
    else:
        version = versions[-1]
    vdir = os.path.join(index_path, f"v={version}")
    return (
        spark.read.schema(CENTROIDS_SCHEMA).parquet(os.path.join(vdir, "centroids")),
        _read_postings(spark, index_path, version),
    )


def ivf_build(
    spark: SparkSession,
    index_path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 2,
    assign: str = "expr",
) -> DataFrame:
    """Fit the codebook on ``vectors`` (deterministic Lloyd's — see
    :func:`similarity.kmeans_fit`), assign the build set, and commit
    ``v=0``. Returns the build assignment. ``assign`` picks the
    assignment engine (see :func:`_assign_fn`); use 'pandas' for
    thousands of cells.

    Refuses a path that already holds committed versions: readers always
    serve ``versions[-1]``, so a v=0 rebuild into a live store would land
    silently invisible (and orphan the old lineage). The documented refit
    runbook is ``ivf_build`` to a FRESH path, then re-point queries
    (see :func:`ivf_health` / streaming/ann_ingest.py)."""
    existing = _committed_versions(index_path)
    if existing:
        raise ValueError(
            f"{index_path} already holds committed versions {existing}; "
            "ivf_build refuses to bury them (read_ann_index serves the "
            "LATEST version, so a v=0 rebuild here would be invisible). "
            "Refit to a fresh path and re-point, per the ivf_health runbook."
        )
    cents = kmeans_fit(vectors, id_col, vec_col, k=k, iterations=iterations).select(
        F.col(id_col).cast("long").alias("cid"), F.col(vec_col).alias("centroid")
    )
    asg = _assign_fn(assign)(
        vectors,
        cents.select(F.col("cid").alias(id_col), F.col("centroid").alias(vec_col)),
        id_col,
        vec_col,
    ).select(F.col(id_col).cast("long").alias("vec_id"), "cid", "dist")
    _write_version(index_path, 0, cents, asg, snapshot=True)
    return asg


def ivf_upsert(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "expr",
) -> DataFrame:
    """Absorb a new batch WITHOUT refitting: assign against the current
    codebook and commit the batch's assignments as a DELTA version —
    O(|batch|) written; ids already present are replaced at READ time by
    the last-write-wins resolution (:func:`_read_postings`), the upsert
    semantic the r8 store applied eagerly with a full-relation rewrite.
    Returns the batch assignment. ``assign`` must match the method the
    store was built with (see :func:`_assign_fn`)."""
    cents, _ = read_ann_index(spark, index_path)
    if cents.isEmpty():
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    asg = _assign_fn(assign)(
        new_vectors,
        cents.select(F.col("cid").alias(id_col), F.col("centroid").alias(vec_col)),
        id_col,
        vec_col,
    ).select(F.col(id_col).cast("long").alias("vec_id"), "cid", "dist")
    # persist + explicit unpersist (r12; was localCheckpoint — the leak
    # class the r11 LSH root-cause established: checkpointed blocks wait
    # on the lazy ContextCleaner, so repeated upserts in one JVM
    # accumulate executor storage). Recompute of the RETURNED frame is
    # version-safe — the centroids scan pins the pre-upsert version's
    # files at plan time, so a post-unpersist re-derivation yields the
    # same assignment even after the store advances.
    asg = asg.persist()
    try:
        asg.count()  # materialize the one assignment pass eagerly
        version = _committed_versions(index_path)[-1] + 1
        _write_version(index_path, version, cents, asg)
    finally:
        asg.unpersist()
    return asg


def ivf_health(
    spark: SparkSession,
    index_path: str,
    imbalance_threshold: float = 4.0,
    drift_threshold: float = 1.5,
) -> DataFrame:
    """One-row index health report: cell occupancy imbalance and the
    quantization drift of post-build vectors vs the build set.

    - ``imbalance`` = max cell size / mean cell size over the FITTED
      codebook's k cells (empty cells count as 0 via the centroid join).
      High imbalance means probes hit one giant cell — IVF pruning decays
      toward brute force.
    - ``drift_ratio`` = mean assignment distance of rows CHANGED since
      the earliest retained version (new ids, plus re-upserted ids whose
      distance moved — a replace carries today's distribution exactly
      like a new id does; comparing ids alone would count re-upserted
      build ids as base and report null drift on a fully drifted,
      same-id corpus) over the earliest retained version's OWN recorded
      mean distance (the quantization quality the codebook had when that
      version landed — a fixed baseline that survives even a 100%
      replacement, where an unchanged-rows denominator would go empty).
      A codebook fitted on yesterday's distribution quantizes today's
      poorly; ratio >> 1 is that signal. With no changed rows the ratio
      is null and only imbalance can trigger.
    - ``needs_refit`` = imbalance > threshold OR drift_ratio > threshold.

    Means are single divisions of DECIMAL(18,6) sums of the already-6dp
    assignment distances — exact and partition-order-independent. The
    report runs on postings + centroids only (24-byte rows, k-row dim
    table); raw vectors are never touched.
    """
    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}")
    cents, postings = read_ann_index(spark, index_path)
    # Changed = rows NOT identical to the earliest retained version: new
    # ids, plus re-upserted ids whose distance moved (dist is the
    # deterministic 6-dp rounded assignment, so an untouched row carries
    # the exact same double through snapshots). A re-upserted id reflects
    # TODAY's distribution and must count toward drift — an id-only test
    # would mask a fully drifted same-id corpus as base.
    base = _read_postings(spark, index_path, versions[0]).select(
        "vec_id", F.col("dist").alias("__bdist")
    )
    changed = (
        postings.join(base, "vec_id", "left")
        .filter(
            F.col("__bdist").isNull() | (F.col("dist") != F.col("__bdist"))
        )
        .select("dist")
    )
    cells = (
        cents.select("cid")
        .join(postings.groupBy("cid").agg(F.count("*").alias("n")), "cid", "left")
        .select(F.coalesce("n", F.lit(0)).alias("n"))
    )
    occ = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum("n").alias("n_vectors"),
        F.max("n").alias("max_cell"),
    )
    dist6 = F.col("dist").cast("decimal(18,6)")
    # baseline = the earliest version's OWN recorded mean: a fixed
    # reference that survives 100% replacement (an unchanged-rows
    # denominator would go empty exactly when drift is total)
    base_mean = base.agg(
        (
            F.sum(F.col("__bdist").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mean_dist_base")
    )
    drift = changed.agg(
        (F.sum(dist6).cast("double") / F.count("*")).alias("mean_dist_new")
    ).crossJoin(F.broadcast(base_mean))
    imb = F.round(F.col("max_cell") / (F.col("n_vectors") / F.col("n_cells")), 6)
    dr = F.round(F.col("mean_dist_new") / F.col("mean_dist_base"), 6)
    return (
        occ.crossJoin(F.broadcast(drift))
        .select(
            F.lit(versions[-1]).alias("version"),
            "n_vectors",
            "n_cells",
            "max_cell",
            imb.alias("imbalance"),
            F.round("mean_dist_base", 6).alias("mean_dist_base"),
            F.round("mean_dist_new", 6).alias("mean_dist_new"),
            dr.alias("drift_ratio"),
            (
                (imb > imbalance_threshold)
                | F.coalesce(dr > drift_threshold, F.lit(False))
            ).alias("needs_refit"),
        )
    )


def _probe_cells(
    queries: DataFrame, cents: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells: ``(q_id, qv, cid)``. The
    ONE probe computation both query paths share — the determinism rules
    (6-dp round before ranking, cid tiebreak) live here once, so the
    pinned ivf_query ≡ ivf_query_layout parity cannot drift."""
    from pyspark.sql.window import Window

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        _l2sq,
    )

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    return (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "qv",
            "cid",
            F.round(_l2sq(F.col("qv"), F.col("centroid")), 6).alias("cdist"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("cdist"), F.col("cid"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "qv", "cid")
    )


def ivf_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Serve top-k L2 neighbors THROUGH the store: each query probes its
    ``nprobe`` nearest cells, the postings prune ``corpus`` to vectors
    assigned there, and only those are scored. Columns:
    ``(q_id, n_id, dist, rank)``; self-matches (same id) are excluded.

    With ``nprobe`` = the store's cell count this is EXACT search (pinned
    in tests); smaller nprobe trades recall for reading
    ``~nprobe/n_cells`` of the corpus. At 100 TB use the cid-partitioned
    serving pair — :func:`write_ivf_layout` + :func:`ivf_query_layout` —
    where the probe is partition pruning AT THE SCAN (pinned plan: the
    probed ``cid=`` dirs ARE the scan's path list, broadcast probes, no
    corpus shuffle); this semi-join form is the layout-agnostic equivalent for
    a corpus you don't control the layout of, and the parity of the two
    is pinned in tests.

    Determinism: distances are the same index-ordered fold as
    :func:`similarity.kmeans_assign`, rounded to 6 dp BEFORE every
    ranking, ties broken on id ascending.
    """
    from pyspark.sql.window import Window

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        _l2sq,
    )

    cents, postings = read_ann_index(spark, index_path)
    if cents.isEmpty():
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    probes = _probe_cells(queries, cents, id_col, vec_col, nprobe)
    cand = probes.join(postings.select("vec_id", "cid"), "cid").select(
        "q_id", "qv", F.col("vec_id").alias("n_id")
    )
    scored = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("n_id"),
                F.col(vec_col).cast("array<double>").alias("nv"),
            ),
            "n_id",
        )
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id", F.round(_l2sq(F.col("qv"), F.col("nv")), 6).alias("dist")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def write_ivf_layout(
    spark: SparkSession,
    index_path: str,
    corpus: DataFrame,
    layout_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the corpus PARTITIONED BY CELL — the at-scale serving
    layout :func:`ivf_query`'s docstring promises: with vectors laid out
    as ``layout_path/cid=N/*.parquet``, a probe becomes partition
    pruning AT THE SCAN (read ~nprobe/n_cells of the corpus bytes), not
    a postings semi-join over all of it.

    The one shuffle here (corpus ⋈ postings on vec_id, then the
    partitioned write) is the PRE-PAID cost every subsequent query
    amortizes — the same trade :func:`layout.write_bucketed` makes for
    joins. Only indexed vectors are written (inner join): a vector
    absent from the store's postings is unreachable through any probe
    anyway.

    Writes a ``_STORE_VERSION`` pin recording which committed store
    version the layout was derived from; :func:`ivf_query_layout`
    refuses a layout whose pin doesn't match the store's latest version,
    because pruning with yesterday's cell assignment silently returns
    wrong neighbors. After an upsert, catch up incrementally instead of
    re-running this: :func:`append_ivf_layout` for pure-append batches
    (O(|batch|), no reads), :func:`upsert_ivf_layout` when the batch
    replaced ids (rewrites only the touched ``cid=`` partitions).
    Returns the pinned version.
    """
    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    v = versions[-1]
    # Read AS OF the pinned version, not "latest again": an upsert landing
    # between the two listings would put v+1 rows into a layout pinned as
    # v, and the follow-up append_ivf_layout would append those same rows
    # a second time (duplicate vec_ids displace true top-k neighbors).
    _, postings = read_ann_index(spark, index_path, version=v)
    laid = corpus.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).join(postings.select("vec_id", "cid"), "vec_id")
    laid.write.mode("overwrite").partitionBy("cid").parquet(layout_path)
    pin_file = os.path.join(layout_path, "_STORE_VERSION")
    delta_store.atomic_write(pin_file, str(v))
    return v


def ivf_query_layout(
    spark: SparkSession,
    index_path: str,
    layout_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """:func:`ivf_query` served from a :func:`write_ivf_layout` corpus —
    result-identical to the semi-join form (pinned in tests), but the
    probe is PARTITION PRUNING: the scan reads ONLY the probed ``cid=``
    directories (they are its path list — r14, see
    :func:`_read_layout_cells`), so only ~nprobe/n_cells of the corpus
    bytes are read AND only the probed dirs are listed, and the corpus
    side never shuffles (the probe relation is broadcast onto it).

    The probed cell set is collected driver-side to make it the scan's
    literal path list — that is what prunes both the listing and the
    scan at plan time instead of joining at run time. The collect is
    bounded by |queries| × nprobe cell ids (the query batch is the small
    side of a serving call by definition); the corpus never flows
    through the driver.
    """
    from pyspark.sql.window import Window

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.similarity import (
        _l2sq,
    )

    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    pin_file = os.path.join(layout_path, "_STORE_VERSION")
    if not os.path.exists(pin_file):
        raise ValueError(
            f"{layout_path} has no _STORE_VERSION pin; write it with "
            "write_ivf_layout"
        )
    with open(pin_file) as f:
        pinned = int(f.read())
    if pinned != versions[-1]:
        raise ValueError(
            f"layout at {layout_path} was derived from store version "
            f"{pinned} but the store is at {versions[-1]} — re-run "
            "write_ivf_layout (pruning with a stale cell assignment "
            "returns wrong neighbors, so this is refused, not served)"
        )
    cents, _ = read_ann_index(spark, index_path)
    probes = _probe_cells(queries, cents, id_col, vec_col, nprobe)
    # probe once, reuse twice WITHOUT a pin (r13; was a one-shot
    # localCheckpoint — the storage-accumulation class the r11/r12 store
    # fixes closed: checkpointed blocks wait on the lazy ContextCleaner,
    # and this is exactly the API a serving loop calls forever). The
    # probe relation is |queries| x nprobe rows by definition of a
    # serving call and was ALREADY collected for the cid literal below —
    # collect it once, derive both the pruning list and the broadcast
    # side from the same local rows: one probe job, zero executor
    # storage left behind.
    probe_rows = probes.collect()
    probed_cids = sorted({int(r["cid"]) for r in probe_rows})
    probes = spark.createDataFrame(probe_rows, probes.schema)
    # r14: the probed cells' directories are read DIRECTLY (the path list
    # is the partition pruning) — a root read re-listed every cid= dir in
    # the store per serving call; see _read_layout_cells.
    corpus = _read_layout_cells(spark, layout_path, probed_cids)
    scored = (
        corpus.join(F.broadcast(probes), "cid")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(_l2sq(F.col("qv"), F.col("embedding")), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def append_ivf_layout(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    layout_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Catch a serving layout up after ONE :func:`ivf_upsert` without
    rewriting the corpus: append exactly the upserted batch's rows into
    their ``cid=`` directories and advance the ``_STORE_VERSION`` pin —
    the at-scale maintenance step :func:`write_ivf_layout`'s docstring
    promises (per-batch cost ~|batch| rows vs the full-corpus rewrite).

    Contract (enforced, not assumed):

    - the pin must be exactly one version behind the store — append
      batches in upsert order; anything else wants a rewrite;
    - the batch's ids must be NEW (absent from the pinned version's
      postings). A re-upserted id REPLACES its posting, and an appended
      layout cannot retract the stale row — that case is refused loudly
      and needs :func:`write_ivf_layout`.

    The batch's cells come from the store's own postings (the committed
    truth), not a re-assignment here. Returns the new pinned version.

    Streaming note: the ann_ingest stream does NOT call this per batch —
    foreachBatch replays would double-append rows (parquet appends have
    no idempotent overwrite key). Run it as the ledger-ordered catch-up
    step between stream drains, or rewrite on re-point (the refit
    runbook in tests/test_ann_stream.py).
    """
    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    latest = versions[-1]
    pin_file = os.path.join(layout_path, "_STORE_VERSION")
    if not os.path.exists(pin_file):
        raise ValueError(
            f"{layout_path} has no _STORE_VERSION pin; build it with "
            "write_ivf_layout before appending"
        )
    with open(pin_file) as f:
        pinned = int(f.read())
    if pinned != latest - 1:
        raise ValueError(
            f"layout pin is {pinned} but the store is at {latest}; append "
            "catches up exactly one upsert — apply batches in order, or "
            "re-run write_ivf_layout"
        )
    # persist + EXPLICIT unpersist (r13; was a one-shot localCheckpoint —
    # bounded per call, but this is exactly the API a ledger-ordered
    # catch-up loop calls per batch forever, and checkpointed blocks wait
    # on the lazy ContextCleaner: the accumulation class the r11/r12
    # store fixes closed). The eager count below still makes guards and
    # write see ONE materialized frame; a post-eviction recompute
    # re-derives from the caller's frame, which the store contract
    # already requires to be the deterministic batch handed to ivf_upsert.
    batch = new_vectors.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).persist()
    try:
        batch.count()  # materialize the pin eagerly
        # the only question asked of the pinned postings is "does any batch
        # id already exist?" — prune the resolution read to the batch ids'
        # own hash partitions (exact: all versions of one vec_id share a
        # partition)
        meta = delta_store.load_or_init_meta(
            index_path, delta_store.DEFAULT_PARTITIONS
        )
        touched = delta_store.touched_partitions(
            batch.select("vec_id"), ["vec_id"], meta["n_partitions"]
        )
        prev_ids = _read_postings(
            spark, index_path, pinned, touched_p=touched
        ).select("vec_id")
        n_replaced = batch.join(prev_ids, "vec_id", "left_semi").count()
        if n_replaced:
            raise ValueError(
                f"{n_replaced} batch ids already exist in the pinned layout — "
                "an append cannot retract their stale rows; use "
                "upsert_ivf_layout (partition-scoped rewrite) for "
                "replace-upserts"
            )
        # cells come from the committed truth, probed by batch id only —
        # the same pruned resolution read as the replaced-id check above
        postings = _read_postings(spark, index_path, latest, touched_p=touched)
        # a batch id absent from the latest postings would vanish silently
        # (dropped by the inner join while the pin still advances, and the
        # pin contract forbids re-appending it later) — the caller passed a
        # batch that differs from the one given to ivf_upsert. Refuse, the
        # same guard upsert_ivf_layout carries.
        n_missing = batch.join(
            postings.select("vec_id"), "vec_id", "left_anti"
        ).count()
        if n_missing:
            raise ValueError(
                f"{n_missing} batch id(s) are absent from the latest postings "
                f"(v={latest}); append_ivf_layout must receive exactly the "
                "batch given to ivf_upsert — otherwise those vectors would "
                "silently disappear from the serving layout"
            )
        laid = batch.join(postings.select("vec_id", "cid"), "vec_id")
        laid.write.mode("append").partitionBy("cid").parquet(layout_path)
    finally:
        batch.unpersist()
    delta_store.atomic_write(pin_file, str(latest))
    return latest


def upsert_ivf_layout(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    layout_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Catch a serving layout up after ONE :func:`ivf_upsert` that may
    REPLACE existing ids — the case :func:`append_ivf_layout` refuses
    (an append cannot retract a replaced id's stale row). Instead of the
    full :func:`write_ivf_layout` rewrite, this rewrites ONLY the
    affected ``cid=`` partitions:

    - every cell a replaced id USED to live in (per the pinned version's
      postings — the stale row to retract), and
    - every cell a batch id NOW lives in (per the latest postings).

    Each affected partition's content is rebuilt as (surviving existing
    rows) ∪ (batch rows with their committed cells) and swapped in with
    Spark's dynamic partition overwrite, so untouched cells are never
    read or written — per-upsert cost is O(touched cells), not
    O(corpus). A cell emptied by the rewrite (its only vector moved
    away) is deleted explicitly: dynamic overwrite only replaces
    partitions PRESENT in the written frame, so an empty result would
    otherwise leave the stale directory standing. Same one-version-
    behind pin contract as :func:`append_ivf_layout`; advances the pin
    and returns it.
    """
    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}; run ivf_build first")
    latest = versions[-1]
    pin_file = os.path.join(layout_path, "_STORE_VERSION")
    if not os.path.exists(pin_file):
        raise ValueError(
            f"{layout_path} has no _STORE_VERSION pin; build it with "
            "write_ivf_layout before upserting"
        )
    with open(pin_file) as f:
        pinned = int(f.read())
    if pinned != latest - 1:
        raise ValueError(
            f"layout pin is {pinned} but the store is at {latest}; upsert "
            "catches up exactly one store upsert — apply batches in order, "
            "or re-run write_ivf_layout"
        )
    import shutil

    # persist + EXPLICIT unpersist (r13; was a one-shot localCheckpoint —
    # this is exactly the API a per-micro-batch serving-layout catch-up
    # loop calls forever, so the bounded-per-call argument did not close
    # the storage-accumulation class the r11/r12 store fixes established).
    batch = new_vectors.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).persist()
    staging = os.path.join(layout_path, "_staging")
    try:
        batch.count()  # materialize: guards and write see ONE frame
        batch_ids = batch.select("vec_id")
        # both the pinned and the latest postings are only probed BY BATCH
        # ID here — prune both resolution reads to the ids' hash partitions
        meta = delta_store.load_or_init_meta(
            index_path, delta_store.DEFAULT_PARTITIONS
        )
        touched = delta_store.touched_partitions(
            batch_ids, ["vec_id"], meta["n_partitions"]
        )
        postings = _read_postings(spark, index_path, latest, touched_p=touched)
        prev = _read_postings(spark, index_path, pinned, touched_p=touched)
        # affected = old cells of replaced ids ∪ new cells of the whole
        # batch; both sides are |batch|-bounded joins against 24-byte
        # posting rows
        old_cells = prev.join(batch_ids, "vec_id").select("cid")
        new_cells = postings.join(batch_ids, "vec_id").select("cid")
        affected = sorted(
            r["cid"] for r in old_cells.unionByName(new_cells).distinct().collect()
        )
        if not affected:
            raise ValueError(
                "batch assigns to no committed cell; run ivf_upsert first"
            )
        # rebuild exactly the affected partitions: survivors (existing
        # layout rows in those cells, minus the batch's ids) plus the batch
        # at its committed cells. The rebuilt content is STAGED as parquet
        # OUTSIDE the live cid= dirs before the overwrite touches the
        # directories the survivors were read from — a true lineage sever
        # (the re-read's source is the staging files), strictly safer than
        # the former localCheckpoint pin: staged files survive executor
        # loss mid-overwrite, checkpoint blocks do not. Cost is one extra
        # O(touched cells) write, the same order as the overwrite itself.
        #
        # r14 (guide §5 — per-call job count IS this path's steady-state
        # cost; it is what the bench's grown-ratio/flatness gates time):
        # two of the former six driver jobs are folded into the staging
        # write via ONE Observation on the staged content. (a) The
        # missing-id guard: the batch side joins the postings LEFT, so an
        # id absent from the latest postings surfaces as a null cid
        # counted by the observation (survivor rows always carry a cid),
        # checked after the staging write but BEFORE anything visible
        # mutates — the staging dir is internal and removed in `finally`,
        # so the refuse-without-mutation contract is unchanged. (b)
        # `present` (which cells survived — needed to delete emptied cid=
        # dirs, because dynamic overwrite only replaces partitions present
        # in the written frame) rides the same observation as a
        # collect_set over cid: per-task state is a set bounded by the
        # touched-cell count, never the row count, so nothing
        # corpus-sized ever reaches the driver.
        from pyspark.sql import Observation

        # r14: survivors come from the affected cells' directories read
        # DIRECTLY — a root read paid an O(n_cells-in-store) partition
        # discovery (plus a distributed listing job past 32 dirs) per
        # catch-up call; see _read_layout_cells. A new cell with no
        # directory yet contributes zero survivors, as before.
        existing = (
            _read_layout_cells(spark, layout_path, affected)
            .join(batch_ids, "vec_id", "left_anti")
            .select("vec_id", "embedding", "cid")
        )
        fresh = batch.join(postings.select("vec_id", "cid"), "vec_id", "left").select(
            "vec_id", "embedding", "cid"
        )
        obs = Observation("upsert_layout_guard")
        staged = existing.unionByName(fresh).observe(
            obs,
            F.sum(F.col("cid").isNull().cast("int")).alias("n_missing"),
            F.collect_set("cid").alias("present_cids"),
        )
        staged.write.mode("overwrite").parquet(staging)
        n_missing = obs.get["n_missing"] or 0
        if n_missing:
            # a batch id absent from the latest postings would vanish
            # silently: null-cid in `fresh` while still anti-joined out of
            # `existing` — the caller passed a batch that differs from the
            # one given to ivf_upsert. Refuse, mirroring
            # append_ivf_layout's n_replaced guard (ADVICE r9). Nothing
            # visible has mutated: only the staging dir exists, and
            # `finally` removes it.
            raise ValueError(
                f"{n_missing} batch id(s) are absent from the latest postings "
                f"(v={latest}); upsert_ivf_layout must receive exactly the "
                "batch given to ivf_upsert — otherwise those vectors would "
                "silently disappear from the serving layout"
            )
        present = {int(c) for c in (obs.get["present_cids"] or [])}
        content = spark.read.parquet(staging)
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(mode_key, "static")
        spark.conf.set(mode_key, "dynamic")
        try:
            content.write.mode("overwrite").partitionBy("cid").parquet(
                layout_path
            )
        finally:
            spark.conf.set(mode_key, old_mode)
        for cid in set(affected) - present:
            shutil.rmtree(
                os.path.join(layout_path, f"cid={int(cid)}"), ignore_errors=True
            )
    finally:
        batch.unpersist()
        shutil.rmtree(staging, ignore_errors=True)
    delta_store.atomic_write(pin_file, str(latest))
    return latest


def repin_ivf_layout(index_path: str, layout_path: str) -> int:
    """Advance a serving layout's ``_STORE_VERSION`` pin across
    COMPACTION versions without touching the layout data — sound because
    every snapshot committed at a version k>0 IS the resolved postings at
    k-1 (:func:`compact_ann_index` is the only snapshot writer after
    build; ``ivf_build`` refuses to bury a live store's lineage), so a
    layout derived at k-1 serves version k byte-identically.

    This closes the loop the per-micro-batch catch-up pattern needs at
    scale (r13): ``upsert_ivf_layout`` resolves postings through the
    snapshot+delta chain, so its per-batch cost grows with the DELTA
    TAIL until a compact folds it (measured: a 12-batch catch-up loop
    drifted 1.6× with no compaction; flat with compact-every-4 —
    bench.py ann_layout_flatness_ratio). A compact alone, though,
    strands the layout: the pin falls two behind and every later
    catch-up is refused. compact + repin (both scheduled maintenance,
    driver-side file ops only) keeps the pair in lock-step with the
    read amplification bounded.

    Advances one version at a time while the next committed version is a
    snapshot; stops at the first delta (content actually moved — catch
    up with :func:`upsert_ivf_layout`/:func:`append_ivf_layout`, or
    rewrite). Returns the new pinned version (unchanged if no snapshot
    follows the pin)."""
    pin_file = os.path.join(layout_path, "_STORE_VERSION")
    if not os.path.exists(pin_file):
        raise ValueError(
            f"{layout_path} has no _STORE_VERSION pin; build it with "
            "write_ivf_layout before repinning"
        )
    with open(pin_file) as f:
        pinned = int(f.read())
    versions = set(_committed_versions(index_path))
    advanced = pinned
    while advanced + 1 in versions and _is_snapshot(index_path, advanced + 1):
        advanced += 1
    if advanced != pinned:
        delta_store.atomic_write(pin_file, str(advanced))
    return advanced


def compact_ann_index(spark: SparkSession, index_path: str) -> int:
    """Fold the latest snapshot + delta tail into ONE new snapshot
    version (returned): the resolved postings written whole, centroids
    carried over. O(live index) by design — scheduled maintenance that
    bounds read amplification and unlocks :func:`prune_ann_versions`.
    Single writer: run between stream drains (the ann_ingest ledger
    pins base versions, so a replay still resolves through the
    snapshot)."""
    versions = _committed_versions(index_path)
    if not versions:
        raise ValueError(f"no committed index at {index_path}; nothing to compact")
    latest = versions[-1]
    cents, postings = read_ann_index(spark, index_path)
    # persist + explicit unpersist (r11; was localCheckpoint): repeated
    # compacts in one long-lived JVM accumulated each snapshot-sized
    # checkpoint until the lazy ContextCleaner got to it (the lsh_ingest
    # finding). Recompute-safe: the postings read pins version dirs at
    # plan time and the snapshot writes to a NEW dir.
    resolved = postings.persist()
    resolved.count()
    next_v = latest + 1
    try:
        _write_version(index_path, next_v, cents, resolved, snapshot=True)
    finally:
        resolved.unpersist()
    return next_v


def prune_ann_versions(index_path: str, keep_last: int = 2) -> list[int]:
    """GC for this DELTA store — :func:`delta_store.prune` verbatim (the
    ANN version layout IS the shared protocol's): delete only versions
    older than the latest snapshot at-or-before the oldest of the last
    ``keep_last`` versions AND every base a PENDING ann_ingest ledger
    marker still pins (a crashed stream batch re-reads its pinned base on
    replay — GC must not outrun it), de-committing each version before
    its data so a partial deletion fails loudly instead of serving an
    incomplete resolution. Deltas newer than the snapshot floor are
    load-bearing and kept regardless of age (run
    :func:`compact_ann_index` to widen the deletable range). [] until a
    snapshot floor exists. Keep ``keep_last >= 2`` for stream replays."""
    return delta_store.prune(index_path, keep_last)
