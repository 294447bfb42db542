"""Persistent content-fingerprint index for incremental ingestion dedup.

q158 computes the new-batch-vs-corpus classification when the corpus is
re-derivable; a real continuously-fed pipeline instead MAINTAINS the
fingerprint set as its own versioned table and updates it per batch —
this module is that index.

Store (r9 revision — delta commits on the shared
:mod:`operators.delta_store` protocol, the same rework the LSH bucket
index got): ``index_path/v=N/p=X/`` parquet of ``(fp, first_doc_id)``,
hash-partitioned on ``pmod(xxhash64(fp), P)``. Each version is a DELTA
holding only the batch's genuinely-new fingerprints — O(|batch|)
written per commit regardless of index size (through r8 every version
rewrote the full relation; at 100 TB that rewrite, not the batch, was
the cost). Deltas are DISJOINT by protocol (a fingerprint ingests only
when absent from its base version), and resolution takes
``min(first_doc_id)`` per fp — a no-op under the invariant that also
makes replay/compaction row overlaps harmless, exactly the
idempotent-resolve contract delta_store documents. Classification
prunes its index read to the hash partitions the batch's fingerprints
touch, so the read side is batch-bounded too. :func:`compact_fingerprint_index`
folds the tail into a snapshot; :func:`prune_fingerprint_versions` GCs
behind the snapshot floor (deltas above it stay load-bearing).

Scale: the index is (16-byte fp, first_doc_id) — orders of magnitude
smaller than the corpus; the update is one pruned left join of the
batch against it plus an O(|batch|) delta commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store

INDEX_SCHEMA = "fp string, first_doc_id long"

_KEYS = ["fp"]

#: shared delta-store default; production stores size P explicitly
DEFAULT_PARTITIONS = delta_store.DEFAULT_PARTITIONS


def _resolve(union: DataFrame) -> DataFrame:
    """min(first_doc_id) per fp — a no-op under the disjoint-delta
    invariant, and the idempotent resolve the protocol requires (replay
    and compact-marker races can briefly duplicate rows)."""
    return union.groupBy("fp").agg(F.min("first_doc_id").alias("first_doc_id"))


def read_fingerprint_index(
    spark: SparkSession,
    index_path: str,
    version: int | None = None,
    touched_p: list[int] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """The committed index resolved AS OF ``version`` (latest by
    default; empty with the right schema if none). ``touched_p`` prunes
    the union read to those hash partitions — exact for key-probe reads
    (rows elsewhere cannot share an fp with the probes)."""
    versions = delta_store.committed_versions(index_path)
    if version is None:
        if not versions:
            return spark.createDataFrame([], INDEX_SCHEMA)
        version = versions[-1]
    return _resolve(
        delta_store.read_union(
            spark, index_path, version, INDEX_SCHEMA, touched_p, n_partitions
        )
    )


def compact_fingerprint_index(
    spark: SparkSession, index_path: str, n_partitions: int | None = None
) -> int:
    """Fold the snapshot + delta tail into ONE new snapshot version
    (returned) — bounds per-batch read amplification and unlocks GC.
    Single writer: run between stream drains. ``n_partitions`` re-shards
    the store at the fold (the sanctioned way to change P)."""
    return delta_store.compact(
        spark, index_path, INDEX_SCHEMA, _KEYS, _resolve,
        n_partitions=n_partitions,
    )


def prune_fingerprint_versions(index_path: str, keep_last: int = 2) -> list[int]:
    """GC for THIS delta store: delete only versions older than the
    snapshot floor the oldest retained version resolves through (see
    :func:`operators.delta_store.prune`); [] until a compact creates
    that floor. Keep ``keep_last >= 2`` for stream replays."""
    return delta_store.prune(index_path, keep_last)


def _classify(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    base_v: int,
    id_col: str,
    text_col: str,
    n_partitions: int,
) -> DataFrame:
    """Shared batch/stream classification body: fingerprint the batch,
    prune the index read to the batch's hash partitions, classify with
    q158's precedence (corpus match > within-batch repeat > ingested).
    Returns the classification MATERIALIZED (localCheckpoint) so the
    caller can advance the store without re-running it."""
    meta = delta_store.load_or_init_meta(index_path, n_partitions)
    P = meta["n_partitions"]
    # persist + explicit unpersist below (r11; was localCheckpoint): one
    # md5 pass feeds probe set + classify, and checkpointed blocks are
    # only released by the lazy ContextCleaner — a long-running stream
    # accumulated every batch's blocks in executor storage (the
    # lsh_ingest finding, same class). Recompute-safe: h derives only
    # from the immutable micro-batch input.
    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("fp"),
    ).persist()
    h.count()  # materialize eagerly
    # NULL text -> NULL fp: such docs carry no content to fingerprint.
    # They must neither enter the index nor VANISH — the plain `first`
    # join below never matches NULL keys, which silently dropped their
    # rows from the output (the sampling.py NULL-key class). Classify
    # them explicitly and run the join machinery on the hashed rows only.
    try:
        return _classify_pinned(spark, index_path, h, base_v, P)
    finally:
        h.unpersist()


def _classify_pinned(spark, index_path, h, base_v, P):
    no_text = h.filter(F.col("fp").isNull()).select(
        "doc_id", "fp", F.lit("no_text").alias("status")
    )
    hashed = h.filter(F.col("fp").isNotNull())
    touched = delta_store.touched_partitions(hashed, _KEYS, P)
    idx = read_fingerprint_index(
        spark, index_path, version=base_v, touched_p=touched, n_partitions=P
    )
    first = hashed.groupBy("fp").agg(F.min("doc_id").alias("first_in_batch"))
    cls = (
        hashed.join(idx.withColumnRenamed("first_doc_id", "idx_first"), "fp", "left")
        .join(first, "fp")
        .select(
            "doc_id",
            "fp",
            F.when(F.col("idx_first").isNotNull(), "duplicate_corpus")
            .when(F.col("doc_id") != F.col("first_in_batch"), "duplicate_batch")
            .otherwise("ingested")
            .alias("status"),
        )
        .unionByName(no_text)
    )
    # pin before the index moves — persist, NOT localCheckpoint (r11
    # review): recompute is safe (the pruned index read pins version
    # dirs at plan time, retained while the batch's ledger marker pends)
    # and persisted blocks are evictable/releasable, where checkpointed
    # blocks accumulated per batch until the lazy ContextCleaner ran.
    # The stream client unpersists per batch; batch-API callers may
    # unpersist the returned frame when done.
    cls = cls.persist()
    cls.count()  # materialize before the commit advances the store
    return cls


def _commit_delta(
    result: DataFrame, index_path: str, next_v: int, reclaim_torn: bool = False
) -> None:
    """Commit the batch's genuinely-new fingerprints as delta v=next_v
    (``reclaim_torn`` only for ledger-owning replays — see
    :func:`delta_store.claim_version`)."""
    meta = delta_store.load_or_init_meta(index_path, DEFAULT_PARTITIONS)
    new_fps = result.filter(F.col("status") == "ingested").select(
        "fp", F.col("doc_id").cast("long").alias("first_doc_id")
    )
    delta_store.write_version(
        new_fps, index_path, next_v, _KEYS, meta["n_partitions"],
        reclaim_torn=reclaim_torn,
    )


def ingest_with_index(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int = DEFAULT_PARTITIONS,
) -> DataFrame:
    """Classify ``docs`` against the current index, then commit a delta
    version holding the batch's genuinely-new fingerprints.

    Returns the classification (materialized BEFORE the index advances,
    so a failed write never half-applies): columns ``doc_id``, ``fp``,
    ``status`` ∈ {'duplicate_corpus', 'duplicate_batch', 'ingested',
    'no_text'} — corpus match outranks within-batch (q158's precedence),
    first occurrence (min id) wins within a batch, NULL-text docs are
    surfaced as 'no_text' (never indexed, never silently dropped).
    ``n_partitions`` applies
    only when this call CREATES the store (the persisted _META wins).
    """
    versions = delta_store.committed_versions(index_path)
    base_v = versions[-1] if versions else -1
    result = _classify(
        spark, index_path, docs, base_v, id_col, text_col, n_partitions
    )
    try:
        _commit_delta(result, index_path, base_v + 1)
    finally:
        # release the classify pin once the commit consumed it (r12,
        # ADVICE: repeated batch ingests accumulated persisted frames —
        # the executor-storage class the r11 stream fixes closed).
        # Caller actions on the returned frame recompute version-safely:
        # the pruned index read pinned the v<=base_v files at plan time,
        # so the new delta dir never enters its listing.
        result.unpersist()
    return result
