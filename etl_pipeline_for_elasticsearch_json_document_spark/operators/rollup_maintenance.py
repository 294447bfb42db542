"""Incremental materialized rollup: an exact aggregate table maintained
batch by batch instead of recomputed from the full corpus.

The reference recomputes everything per scheduler tick; at 100 TB the
only viable shape for a standing aggregate (events per day/type, token
counts per source, ...) is merge-in-the-delta. Every measure here is an
associative partial aggregate — the decomposable set ``count / sum /
min / max`` (avg = sum/count at read time); anything else is refused
loudly.

Store (r10 revision — the shared :mod:`operators.delta_store` protocol,
completing the maintenance family the fingerprint/LSH/ANN stores joined
in r9): ``rollup_path/v=N/p=X/`` parquet versions where each version is
a DELTA holding only the batch's OWN partial aggregate — O(|batch|
groups) written per update, independent of the standing |groups|
relation. Through r9 every update rewrote the full standing relation as
``v=N``; fine for bounded group domains, but the moment the key
includes user/doc/gram the rollup is fact-scaled and every micro-batch
paid an index-sized rewrite (VERDICT r9 missing #1 — the same gap the
LSH store had one family earlier).

- **Read** — the rollup AS OF a version is the MERGE-AGGREGATE
  (count/sum merge as sum, min as min, max as max) over the latest
  snapshot ≤ version plus the deltas after it; legal exactly because
  the measures are associative.
- **Compact** — :func:`compact_rollup` folds the live tail into one
  snapshot version (O(|groups|), scheduled), bounding read
  amplification.
- **GC** — :func:`prune_rollup_versions` is the SNAPSHOT-FLOOR rule
  (:func:`delta_store.prune`): deltas newer than the floor are
  load-bearing regardless of age; deleting them would silently corrupt
  totals.
- **Exactly-once** — merge-aggregate resolution is NOT idempotent
  under row duplication (a sum double-counts where the fingerprint
  store's min-resolve would shrug), so the rollup leans on the
  ledger discipline harder than the other stores: the streaming twin
  (streaming/rollup_job.py) commits through
  :func:`delta_store.commit_pinned_delta` (marker-first, snapshot-aware
  replay skip) and every commit goes through the atomic
  :func:`delta_store.claim_version` single-writer lock. Batch-side
  :func:`update_rollup` is at-most-once per caller, as before.

The store self-describes: ``rollup_path/_ROLLUP`` records keys and
measure kinds at creation, so reads and compacts need no caller-side
schema, and a later update with a DIFFERENT definition is refused
(mixing definitions in one store corrupts every downstream merge).

Equivalence contract (pinned in tests/test_rollup_maintenance.py):
applying batches B1..Bn through ``update_rollup`` yields byte-identical
rows to aggregating B1 ∪ ... ∪ Bn in one shot.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.operators import delta_store

#: measure -> (per-batch aggregate, merge aggregate). count merges as sum.
#: sum/min/max carry the INPUT column's own type end-to-end (a per-batch
#: cast to long would silently floor fractional sums batch-by-batch and
#: break the batch-sequence == one-shot equivalence for non-integral
#: inputs); the equivalence is byte-exact for integral/decimal inputs,
#: while double sums inherit floating addition's usual last-ulp
#: order-dependence — use a decimal input column where exactness matters.
_MEASURES = {
    "count": (lambda c: F.count(c).cast("bigint"), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}

_ROLLUP_META = "_ROLLUP"

#: shared delta-store default; production stores size P explicitly
DEFAULT_PARTITIONS = delta_store.DEFAULT_PARTITIONS


def _validate_measures(measures: dict[str, tuple]) -> None:
    for out_col, (kind, _) in measures.items():
        if kind not in _MEASURES:
            raise ValueError(
                f"measure {kind!r} is not decomposable (supported: "
                f"{sorted(_MEASURES)}); express avg as sum/count at read time"
            )


def _load_or_init_rollup_meta(
    rollup_path: str, keys: list[str], measures: dict[str, tuple]
) -> None:
    """Persist (or check against) the store's rollup definition — keys
    and the FULL measure mapping (kind AND input column: two sums over
    different source columns are different definitions even though the
    kinds match, and merging them corrupts every total). A second writer
    with a different definition is refused. Creation is exclusive
    (:func:`delta_store.create_sidecar`): a racing first creator with a
    different definition is refused too."""
    want = {
        "keys": list(keys),
        "measures": {out: [kind, in_col] for out, (kind, in_col) in measures.items()},
    }
    meta = json.loads(
        delta_store.create_sidecar(rollup_path, _ROLLUP_META, json.dumps(want))
    )
    _guard_legacy_measures(rollup_path, meta)
    if meta != want:
        raise ValueError(
            f"rollup definition mismatch at {rollup_path}: store has "
            f"{meta}, caller passed {want}"
        )


def _guard_legacy_measures(rollup_path: str, meta: dict) -> None:
    """A pre-r10 ``_ROLLUP`` sidecar recorded measures as ``{out: kind}``
    (plain strings); the current form is ``{out: [kind, in_col]}``.
    Without this guard the legacy form surfaces as a MISLEADING
    'definition mismatch' in update_rollup (the definition is identical,
    only the encoding differs) and as a raw KeyError in read_rollup
    (``kc[0]`` of 'sum' is 's' — ADVICE r10 #2). The measure kinds are
    intact in the legacy form but the INPUT COLUMNS were never recorded,
    so an in-place upgrade cannot be verified — raise the migration
    instruction instead, like :func:`_guard_pre_protocol_layout`."""
    if any(isinstance(kc, str) for kc in meta.get("measures", {}).values()):
        raise ValueError(
            f"{rollup_path} holds a pre-r10 _ROLLUP sidecar (measures as "
            f"{{out: kind}} strings: {meta['measures']}). The current "
            "format records the input column per measure and the legacy "
            "sidecar never did, so it cannot be upgraded in place. "
            "Migrate: read the store's latest resolution with the OLD "
            "code (or spark.read.parquet on its newest snapshot), then "
            "update_rollup it into a fresh path with the full "
            "{out: (kind, in_col)} definition, and retire this one."
        )


def _read_rollup_meta(rollup_path: str) -> dict:
    with open(os.path.join(rollup_path, _ROLLUP_META)) as f:
        meta = json.load(f)
    _guard_legacy_measures(rollup_path, meta)
    return meta


def _pre_protocol_entries(rollup_path: str) -> list[str]:
    """The entries that mark ``rollup_path`` as an old layout: a pre-r10
    rollup store (full snapshots as ``v=N/_SUCCESS``, no ``_COMMITTED``)
    or the pre-rollup count-min sketch state (one plain parquet
    directory, a root ``_SUCCESS``). A protocol store writes ``_META``
    before its first version, so with ``_META`` present an uncommitted
    ``v=N/_SUCCESS`` is a torn commit a ledger replay owns."""
    if not os.path.isdir(rollup_path) or os.path.exists(
        os.path.join(rollup_path, delta_store._META)
    ):
        return []
    return sorted(
        d
        for d in os.listdir(rollup_path)
        if d == "_SUCCESS"
        or (
            d.startswith("v=")
            and os.path.exists(os.path.join(rollup_path, d, "_SUCCESS"))
            and not os.path.exists(os.path.join(rollup_path, d, "_COMMITTED"))
        )
    )


def _guard_pre_protocol_layout(rollup_path: str) -> None:
    """Refuse an old layout (:func:`_pre_protocol_entries`) before any
    write. The delta protocol reads either as EMPTY (silent data loss),
    and a stream batch would reclaim an uncommitted ``v=0`` as its own
    torn commit and delete its rows."""
    legacy = _pre_protocol_entries(rollup_path)
    if legacy:
        raise ValueError(
            f"{rollup_path} holds a pre-delta-protocol rollup layout "
            f"({legacy} committed via _SUCCESS only). Each old "
            "version (or the plain parquet directory) is a FULL standing "
            "relation: migrate by reading it with spark.read.parquet and "
            "update_rollup into a fresh path, then retire this one."
        )


def _aggregate(batch: DataFrame, keys: list[str], measures: dict[str, tuple]) -> DataFrame:
    """The batch's own partial aggregate — the DELTA a version commits."""
    _validate_measures(measures)
    aggs = [
        _MEASURES[kind][0](in_col).alias(out_col)
        for out_col, (kind, in_col) in measures.items()
    ]
    return batch.groupBy(*keys).agg(*aggs)


def _merge_union(
    union: DataFrame, keys: list[str], measure_kinds: dict[str, str]
) -> DataFrame:
    """Merge-aggregate the snapshot+delta union — the store's resolution
    (associative measures make any grouping of partials equal the
    one-shot aggregate)."""
    aggs = []
    for out_col, kind in measure_kinds.items():
        merge_fn = F.sum if kind in ("count", "sum") else _MEASURES[kind][1]
        col = merge_fn(out_col)
        if kind == "count":
            col = col.cast("long")  # counts are integral; sums keep their
            # input column's own type (see _MEASURES)
        aggs.append(col.alias(out_col))
    return union.groupBy(*keys).agg(*aggs)


def _measure_kinds(meta: dict) -> dict[str, str]:
    """out_col -> kind from the persisted _ROLLUP definition."""
    return {out: kc[0] for out, kc in meta["measures"].items()}


def read_rollup(
    spark: SparkSession, rollup_path: str, version: int | None = None
) -> DataFrame | None:
    """The rollup resolved AS OF ``version`` (latest by default), or
    None before the first update. One merge-aggregate over the latest
    snapshot + delta tail — compact to bound the tail."""
    _guard_pre_protocol_layout(rollup_path)
    versions = delta_store.committed_versions(rollup_path)
    if not versions:
        return None
    if version is None:
        version = versions[-1]
    meta = _read_rollup_meta(rollup_path)
    union = delta_store.read_union(spark, rollup_path, version, schema=None)
    return _merge_union(union, meta["keys"], _measure_kinds(meta))


def update_rollup(
    spark: SparkSession,
    rollup_path: str,
    batch: DataFrame,
    keys: list[str],
    measures: dict[str, tuple],
    n_partitions: int = DEFAULT_PARTITIONS,
    return_resolved: bool = True,
) -> DataFrame | None:
    """Fold ``batch`` into the standing rollup: aggregate ONLY the batch
    (tiny) and commit it as delta ``v=N+1`` — O(|batch| groups) written,
    never the standing relation; the single-writer claim raises loudly
    if another committer races to the same version.

    ``measures`` maps output column -> (kind, input column), e.g.
    ``{"n_events": ("count", "*"), "total": ("sum", "value")}``.
    ``n_partitions`` applies only when this call CREATES the store.
    Returns the standing rollup resolved at the new version — or None
    with ``return_resolved=False``, which skips constructing the
    resolved frame entirely (building it lists and footer-reads every
    live version's files; a caller that discards the result, like a
    stream's per-batch commit, should not pay tail-sized read cost on
    an O(|batch|) write).
    """
    # validate BEFORE the sidecar persists: a bad kind must not create a
    # definition the first CORRECT caller is then refused against
    _validate_measures(measures)
    _guard_pre_protocol_layout(rollup_path)
    versions = delta_store.committed_versions(rollup_path)
    _load_or_init_rollup_meta(rollup_path, keys, measures)
    store_meta = delta_store.load_or_init_meta(rollup_path, n_partitions)
    delta = _aggregate(batch, keys, measures)
    next_v = (versions[-1] + 1) if versions else 0
    delta_store.write_version(
        delta, rollup_path, next_v, keys, store_meta["n_partitions"]
    )
    if not return_resolved:
        return None
    return read_rollup(spark, rollup_path, version=next_v)


def compact_rollup(
    spark: SparkSession, rollup_path: str, n_partitions: int | None = None
) -> int:
    """Fold the snapshot + delta tail into ONE new snapshot version
    (returned) — O(|groups|), scheduled maintenance that bounds per-read
    merge width and unlocks GC. Single writer, checked by the claim.
    ``n_partitions`` re-shards the store at the fold (the one sanctioned
    way to change P — :func:`delta_store.compact`)."""
    meta = _read_rollup_meta(rollup_path)
    return delta_store.compact(
        spark,
        rollup_path,
        None,
        meta["keys"],
        lambda u: _merge_union(u, meta["keys"], _measure_kinds(meta)),
        n_partitions=n_partitions,
    )


def prune_rollup_versions(rollup_path: str, keep_last: int = 2) -> list[int]:
    """GC for THIS delta store: the snapshot-floor rule
    (:func:`delta_store.prune`) — only versions no retained resolution
    can reference are deleted; deltas newer than the floor are
    load-bearing regardless of age. [] until a compact creates the
    floor. Keep ``keep_last >= 2`` for stream replays."""
    return delta_store.prune(rollup_path, keep_last)
