"""Shared versioned DELTA store: the LSM-flavored commit protocol behind
the streaming maintenance family (near-dup LSH bucket index, content-
fingerprint index).

The problem it solves: a continuously-fed index that rewrites its full
relation per version pays a commit cost that grows with INDEX size, not
batch size (VERDICT r8, missing #1 — found on the LSH store, equally
true of the fingerprint store). The store here makes per-batch cost
batch-bounded on both ends:

- **Layout** — ``path/v=N/p=X/*.parquet`` where ``p = pmod(xxhash64(key
  cols), P)`` and ``P`` is fixed per store in ``path/_META`` (size it
  like bucket counts — live-index bytes / ~128 MB — and re-shard at a
  compact). ``v=N/_COMMITTED`` is written LAST: a version is atomic-or-
  absent. A snapshot version additionally carries ``_SNAPSHOT``, written
  BEFORE ``_COMMITTED`` so no reader ever sees a committed version of
  ambiguous kind.
- **Commit** — each version is a DELTA holding only the batch's own
  rows: O(|batch|) written, independent of index size.
- **Read** — the index AS OF version V is a RESOLUTION (caller-supplied,
  e.g. min-per-bucket for LSH anchors, min-first-id per fingerprint)
  over the latest snapshot ≤ V plus the deltas after it. Readers that
  probe specific keys prune the union to the hash partitions those keys
  touch (``touched_partitions`` + ``read_union(touched_p=...)``) — a
  small batch reads a small fraction of the index, directory-pruned.
- **Compact** — :func:`compact` folds the live tail into one new
  snapshot version: O(live index), scheduled maintenance, bounds read
  amplification and unlocks GC.
- **GC** — :func:`prune` deletes only versions no retained resolution
  can reference: strictly older than the latest snapshot at-or-before
  the oldest retained version AND every base still pinned by a PENDING
  ledger marker (:func:`pending_pins` — a crashed stream batch re-reads
  its pinned base on replay, so GC must not outrun it). Deltas newer
  than that snapshot are load-bearing and kept regardless of age —
  compaction cadence bounds retained disk, exactly like any LSM store.
  Deletion de-commits first (``_COMMITTED`` removed before the data),
  so a partially-deleted version always fails loudly, never reads
  silently incomplete.

The resolution function MUST be idempotent over duplicated rows
(min/max/distinct-style): the snapshot marker lands between the data
write and the commit marker, and at-least-once replays can briefly
expose a snapshot's rows alongside the deltas it folded — an
idempotent resolve makes that overlap harmless by construction.

Local-FS note: directory listing stands in for the manifest a real
object store would keep; the swap is mechanical (list → manifest read)
and changes no protocol step. Until then a URI-scheme path is refused
at every entry point instead of reading as an empty store.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default partition count for new stores — sane directory counts at
#: bench/test scale; production stores size it explicitly.
DEFAULT_PARTITIONS = 64

_META = "_META"
_COMMITTED = "_COMMITTED"
_SNAPSHOT = "_SNAPSHOT"
_LEDGER = "_ledger"


def _local(path: str) -> str:
    """``path`` if it names the local filesystem; a URI-scheme path
    (``s3a://``, ``hdfs://``, ``file:/``) raises. Every store step is a
    POSIX call, so such a path would otherwise list as an empty store
    and commit into a local ``s3a:/...`` directory."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.\-]*:/", os.fspath(path)):
        raise ValueError(
            f"{path!r} is not a local path: delta stores run on the local "
            "filesystem only"
        )
    return path


def atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` via tmp + rename, so a torn write
    is never visible."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def create_sidecar(path: str, name: str, text: str) -> str:
    """Create the store sidecar ``path/name`` holding ``text`` unless it
    exists, and return the text it holds — a definition stamp (rollup
    keys and measures, sketch geometry, LSH hash family) the caller then
    compares against its own. Creation is exclusive (``os.link``, which
    fails on an existing target), not check-then-write: of two racing
    first creators the loser reads the winner's text and is refused like
    any later mismatched writer, instead of overwriting the sidecar
    after the winner's data committed. A store with committed versions
    but no sidecar predates the stamp, so what it was built with is
    unknown: it is refused, never stamped after the fact."""
    fp = os.path.join(_local(path), name)
    if not os.path.exists(fp):
        if committed_versions(path):
            raise ValueError(
                f"store at {path} has committed versions but no {name} "
                "stamp: it predates the stamp, so what it was built with "
                "cannot be checked. Rebuild it into a fresh path."
            )
        os.makedirs(path, exist_ok=True)
        tmp = fp + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, fp)  # exclusive: loses loudly to a racing creator
            return text
        except FileExistsError:
            pass  # another creator won; return theirs below
        finally:
            os.unlink(tmp)
    with open(fp) as f:
        return f.read()


def load_or_init_meta(path: str, n_partitions: int) -> dict:
    """The store's metadata ({'n_partitions': P}); created on first
    touch, afterwards the PERSISTED value always wins — writers and
    readers of one store must agree on the partitioning function. The
    ONE sanctioned way to change P is :func:`compact`'s re-shard (every
    retained row lands in the new snapshot, so no old-P dir is ever read
    under the new hash)."""
    mp = os.path.join(_local(path), _META)
    if os.path.exists(mp):
        with open(mp) as f:
            return json.load(f)
    os.makedirs(path, exist_ok=True)
    meta = {"n_partitions": int(n_partitions)}
    atomic_write(mp, json.dumps(meta))
    return meta


def committed_versions(path: str) -> list[int]:
    if not os.path.isdir(_local(path)):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("v=") and os.path.exists(
            os.path.join(path, name, _COMMITTED)
        ):
            out.append(int(name[2:]))
    return sorted(out)


def pin_base(path: str, lineage: str, batch_id: int) -> tuple[str, int]:
    """The marker-first ledger step every store stream takes before any
    store write: the marker ``_ledger/<lineage>-<batch_id>`` pins the
    BASE version the micro-batch reads (the latest committed version, -1
    for an empty store), written atomically. A replay finds the marker
    and gets the same base back, so it re-reads the same resolution.
    Returns ``(marker, base_v)``; pass the marker to
    :func:`commit_pinned_delta`. Scoping by checkpoint lineage matters
    because epoch ids restart at 0 under a fresh checkpoint."""
    ledger = os.path.join(_local(path), _LEDGER)
    os.makedirs(ledger, exist_ok=True)
    marker = os.path.join(ledger, f"{lineage}-{batch_id}")
    if os.path.exists(marker):
        with open(marker) as f:
            return marker, int(f.read())
    versions = committed_versions(path)
    base_v = versions[-1] if versions else -1
    atomic_write(marker, str(base_v))
    return marker, base_v


def is_snapshot(path: str, version: int) -> bool:
    return os.path.exists(os.path.join(path, f"v={version}", _SNAPSHOT))


def source_versions(path: str, version: int) -> list[int]:
    """The minimal version set whose union resolves the store AS OF
    ``version``: the latest snapshot ≤ version (if any) plus every delta
    after it. Raises if ``version`` itself is not committed (GC'd or
    never landed)."""
    committed = [v for v in committed_versions(path) if v <= version]
    if version >= 0 and version not in committed:
        raise ValueError(
            f"version {version} is not committed at {path} "
            f"(committed: {committed_versions(path)}) — it may have been "
            "GC'd past its retention (prune keep_last)"
        )
    snaps = [v for v in committed if is_snapshot(path, v)]
    base = max(snaps) if snaps else None
    return [v for v in committed if base is None or v >= base]


def partition_expr(key_cols: list[str], n_partitions: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_partitions)).cast(
        "int"
    )


def touched_partitions(df: DataFrame, key_cols: list[str], n_partitions: int) -> list[int]:
    """The hash partitions ``df``'s keys fall into — a driver collect
    that is BOUNDED BY CONSTRUCTION: the projection is ``pmod(_, P)``,
    so at most P distinct ints cross the wire regardless of ``df``'s
    size (the same literal-modulus bound the plan-lint allowances name).
    Rows in other partitions cannot share a key with ``df``, so pruning
    reads to this set is exact."""
    return sorted(
        r["p"]
        for r in df.select(partition_expr(key_cols, n_partitions).alias("p"))
        .distinct()
        .collect()
    )


def version_partitions(path: str, version: int) -> int | None:
    """The partition count ``v=version`` was WRITTEN under (its ``_P``
    sidecar; None for a version predating the sidecar). Versions written
    before a re-shard carry the old hash — pruning them with new-P
    partition ids would silently drop rows, so reads fall back to the
    full directory set for any version whose P doesn't match the
    caller's."""
    f = os.path.join(path, f"v={version}", "_P")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return int(fh.read())


def read_union(
    spark: SparkSession,
    path: str,
    version: int,
    schema: str | None,
    touched_p: list[int] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """The UNRESOLVED snapshot+delta union as of ``version`` (the caller
    applies its resolution); empty with the right schema for version <
    0. ``touched_p`` prunes to those hash partitions — pass the
    ``n_partitions`` the probe set was hashed under: versions written
    under a DIFFERENT P (pre-re-shard history a replayed batch may still
    pin) are read whole instead of mis-pruned — pruning without stating
    the probes' P is therefore a ValueError, not a default. ``schema=
    None`` infers from parquet (stores whose schema is caller-defined,
    e.g. rollups); when no data file survives the pruning (or every
    committed version is an empty delta) the read falls back to the
    newest ``_SCHEMA`` sidecar instead of failing."""
    if touched_p is not None and n_partitions is None:
        raise ValueError(
            "touched_p without n_partitions: pruning needs the partition "
            "count the probe set was hashed under, or versions written "
            "under a different P would be silently mis-pruned"
        )
    if version < 0:
        return _empty_read(spark, path, [], schema)
    sources = source_versions(path, version)
    paths: list[str] = []
    for v in sources:
        vdir = os.path.join(path, f"v={v}")
        prune_this = (
            touched_p is not None and version_partitions(path, v) == n_partitions
        )
        for d in os.listdir(vdir):
            if not d.startswith("p="):
                continue
            if prune_this and int(d[2:]) not in touched_p:
                continue
            paths.append(os.path.join(vdir, d))
    if not paths:
        return _empty_read(spark, path, sources, schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _empty_read(
    spark: SparkSession, path: str, sources: list[int], schema: str | None
) -> DataFrame:
    """An empty DataFrame with the store's schema: the caller's if given,
    else the newest ``_SCHEMA`` sidecar among ``sources`` (every
    write_version records one, so an all-empty-delta store — or a pruned
    read whose touched partitions hold no files — still reads cleanly)."""
    if schema is not None:
        return spark.createDataFrame([], schema)
    from pyspark.sql.types import StructType

    for v in sorted(sources, reverse=True):
        f = os.path.join(path, f"v={v}", "_SCHEMA")
        if os.path.exists(f):
            with open(f) as fh:
                return spark.createDataFrame([], StructType.fromJson(json.load(fh)))
    raise ValueError(
        f"no data files under {path} and no schema to construct an empty "
        "read from (store predates _SCHEMA sidecars; pass schema= or "
        "commit one non-empty version)"
    )


def claim_version(path: str, version: int, reclaim_torn: bool = False) -> str:
    """Atomically claim ``v=version`` for writing (``os.mkdir`` is the
    lock) and return the claimed dir. Turns the protocol's "single
    writer" assumption into a CHECKED invariant: when two committers
    race to the same next version, exactly one mkdir succeeds and the
    loser raises here instead of silently interleaving state under one
    ``_COMMITTED`` marker (VERDICT r9 missing #2).

    On EEXIST: an already-committed version always raises (the caller's
    skip logic should have seen it); an UNCOMMITTED dir is either a live
    concurrent writer or a crashed writer's torn leftovers — the default
    raises loudly for both, and ``reclaim_torn=True`` (for callers that
    PROVE ownership of the version through a ledger marker, i.e. a
    crash-replayed micro-batch re-committing its own pinned version)
    clears the torn dir and re-claims."""
    vdir = os.path.join(path, f"v={version}")
    try:
        os.makedirs(path, exist_ok=True)
        os.mkdir(vdir)
        return vdir
    except FileExistsError:
        pass
    if os.path.exists(os.path.join(vdir, _COMMITTED)):
        raise FileExistsError(
            f"{vdir} is already committed — another writer advanced the "
            "store first; re-read committed_versions() and retry on a "
            "fresh version"
        )
    if not reclaim_torn:
        raise FileExistsError(
            f"{vdir} exists without {_COMMITTED}: either a concurrent "
            "writer is mid-commit (the store is single-writer — stop one) "
            "or a crashed writer left a torn dir (a ledger-owning replay "
            "reclaims it via reclaim_torn=True; otherwise delete the dir "
            "after confirming no writer is live)"
        )
    shutil.rmtree(vdir, ignore_errors=True)
    os.mkdir(vdir)
    return vdir


def write_version(
    df: DataFrame,
    path: str,
    version: int,
    key_cols: list[str],
    n_partitions: int,
    snapshot: bool = False,
    reclaim_torn: bool = False,
) -> None:
    """Commit ``df`` as ``v=version``: atomic :func:`claim_version`
    first, one repartition on the store hash so each ``p=`` dir is a
    single file (appended INTO the claimed dir, so the lock directory is
    never deleted mid-write), ``_SNAPSHOT`` (if any) BEFORE
    ``_COMMITTED``. ``p`` is the store's reserved partition column —
    a caller schema carrying that name would be silently clobbered by
    the hash ids and its values lost, so it is rejected loudly."""
    if "p" in df.columns:
        raise ValueError(
            "column name 'p' is reserved for the store's hash partition; "
            "rename the caller column before committing"
        )
    vdir = claim_version(path, version, reclaim_torn)
    (
        df.withColumn("p", partition_expr(key_cols, n_partitions))
        .repartition(min(32, n_partitions), "p")
        .write.mode("append")
        .partitionBy("p")
        .parquet(vdir)
    )
    with open(os.path.join(vdir, "_P"), "w") as f:
        f.write(str(int(n_partitions)))  # pruning safety across re-shards
    with open(os.path.join(vdir, "_SCHEMA"), "w") as f:
        json.dump(df.schema.jsonValue(), f)  # empty-store read fallback
    if snapshot:
        with open(os.path.join(vdir, _SNAPSHOT), "w"):
            pass
    with open(os.path.join(vdir, _COMMITTED), "w"):
        pass


def commit_pinned_delta(path: str, marker_path: str, base_v: int, write) -> int:
    """Commit a ledger-pinned micro-batch's delta exactly once, surviving
    crash replays AND compactions that claim the version in between
    (ADVICE r9 #1). ``write(version)`` must perform the actual commit
    with ``reclaim_torn=True`` (the marker at ``marker_path`` is the
    ownership proof). Returns the version the delta lives at.

    The race this closes: a batch pins base_v in its ledger marker,
    crashes before committing v=base_v+1; a compact() then commits its
    SNAPSHOT as base_v+1. The naive replay guard ("skip if v=base_v+1 is
    committed") would skip — but the snapshot folded only committed rows,
    so the batch's rows would silently vanish from the index while its
    classification output exists. Here the guard verifies the committed
    version is a DELTA before skipping; when it is a snapshot, the batch
    re-pins PAST the tail (recorded in ``<marker>.recovered`` before the
    commit, so a second replay re-uses the same recovery version instead
    of stacking duplicates) and commits there — correct because the
    snapshot cannot contain the never-committed rows, and the store's
    idempotent resolution absorbs any replay overlap.

    Ownership: a committed delta at the target does not by itself prove
    it is OURS — under a lineage handoff another writer could have taken
    the version, and skipping then silently drops this batch's rows from
    the index. The ``<marker>.attempt`` sidecar records the version we
    are about to write, BEFORE writing: on replay a committed target
    delta is skipped only when the sidecar matches; otherwise it is
    treated like the stolen-snapshot case and the batch re-pins past the
    tail. (A foreign interleaved writer still violates the store's
    single-writer contract — the sidecar turns the silent row loss into
    a correct recommit.)"""
    rec = marker_path + ".recovered"
    att = marker_path + ".attempt"
    target = base_v + 1
    if os.path.exists(rec):
        with open(rec) as f:
            target = int(f.read())
    while True:
        committed = committed_versions(path)
        if target in committed:
            # No sidecar at all = either a legacy marker (pre-.attempt
            # protocol) whose delta DID land, or a foreign writer. The
            # two are indistinguishable here, and the failure costs are
            # asymmetric: skipping a foreign delta silently drops this
            # batch's rows; recommitting our own legacy delta stacks ONE
            # duplicate version whose rows the idempotent resolution
            # absorbs. So absence of a sidecar re-pins — a documented
            # one-time duplicate-version cost per lineage that replays
            # across the protocol upgrade (ADVICE r10 #5, option B).
            ours = False
            if os.path.exists(att):
                with open(att) as f:
                    ours = f.read().strip() == str(target)
            if not is_snapshot(path, target) and ours:
                return target  # our delta already landed (replay)
            # a compact's snapshot — or a foreign writer's delta — took
            # the version: re-pin past the tail (recorded FIRST so a
            # second replay re-uses the same recovery version)
            target = committed[-1] + 1
            atomic_write(rec, str(target))
            continue
        atomic_write(att, str(target))  # ownership intent BEFORE the commit
        write(target)
        return target


def compact(
    spark: SparkSession,
    path: str,
    schema: str | None,
    key_cols: list[str],
    resolve: Callable[[DataFrame], DataFrame],
    n_partitions: int | None = None,
) -> int:
    """Fold the latest snapshot + delta tail into ONE new snapshot
    version (returned). O(live index) by design — scheduled maintenance.
    Single writer — and CHECKED: the snapshot commit goes through
    :func:`claim_version`, so a compact racing a live delta commit (or
    landing on a crashed batch's torn dir) raises loudly instead of
    blessing interleaved state; the crashed batch's replay then recovers
    via :func:`commit_pinned_delta` even when the compact wins the
    version number.

    ``n_partitions`` RE-SHARDS the store: the snapshot is written under
    the new hash and ``_META`` advances with it, so every later delta
    and pruned read uses the new partitioning. The snapshot holds every
    retained row, so post-compact resolutions never mix hashes — and a
    crash-REPLAYED batch still pinned to a pre-re-shard base stays
    correct because each version carries its write-time ``_P`` sidecar
    and :func:`read_union` refuses to prune a version whose P differs
    from the probe set's (it reads that version whole instead). Size P
    so live-index bytes / P stays near one parquet split."""
    versions = committed_versions(path)
    if not versions:
        raise ValueError(f"no committed versions at {path}; nothing to compact")
    meta = load_or_init_meta(path, DEFAULT_PARTITIONS)
    P = meta["n_partitions"] if n_partitions is None else int(n_partitions)
    latest = versions[-1]
    # persist + explicit unpersist (r11; was localCheckpoint): repeated
    # compacts in one long-lived JVM accumulated each snapshot-sized
    # checkpoint until the lazy ContextCleaner got to it (the lsh_ingest
    # finding). Recompute-safe: the union reads version dirs pinned at
    # plan time, all retained while this compact runs.
    resolved = resolve(read_union(spark, path, latest, schema)).persist()
    resolved.count()  # materialize before claiming the version
    next_v = latest + 1
    # Re-shard: advance _META BEFORE the snapshot commit. Correctness is
    # carried by each version's _P sidecar either way; the ordering only
    # decides what a crash between the two steps leaves behind. Meta
    # first → later deltas already use the new P and the next compact
    # completes the re-shard. Meta last (the old order) → a committed
    # new-P snapshot under an old-P meta, so every pruned read falls
    # back to whole-snapshot scans SILENTLY until an operator notices.
    if n_partitions is not None and P != meta["n_partitions"]:
        atomic_write(os.path.join(path, _META), json.dumps({"n_partitions": P}))
    try:
        write_version(resolved, path, next_v, key_cols, P, snapshot=True)
    finally:
        resolved.unpersist()
    return next_v


def _ledger_marker(name: str) -> tuple[str, str, int] | None:
    """``(marker, lineage, batch_id)`` for a ledger file name, or None
    if it parses to no marker. Sidecar suffixes are stripped repeatedly:
    a crash between a tmp write and its ``os.replace`` leaves
    double-suffixed leftovers such as ``'.recovered.tmp'``, which a
    single strip would never tie back to their marker."""
    marker = name
    while marker.endswith((".recovered", ".tmp", ".attempt")):
        marker = marker[: marker.rindex(".")]
    lineage, sep, bid = marker.rpartition("-")
    if not sep or not bid.isdigit():
        return None
    return marker, lineage, int(bid)


def pending_pins(path: str) -> list[int]:
    """Base versions a crash replay may still re-read, from the ledger
    markers under ``path/_ledger/`` (the marker-first exactly-once
    protocol all four stream clients share through :func:`pin_base`).

    Micro-batches within one checkpoint lineage commit SEQUENTIALLY —
    batch N+1 only starts after batch N's epoch committed to the
    checkpoint — so only each lineage's HIGHEST-batch marker can ever
    replay; every earlier marker is spent by construction. That last
    marker pins its base UNCONDITIONALLY: a committed target delta does
    NOT prove the batch finished (the crash window between the index
    commit and the output/checkpoint writes is exactly when replays
    happen, and the replay re-reads ``read_union(base_v)`` to
    re-classify). The pin clears when the lineage's next batch writes
    its marker, or when a decommissioned lineage's markers are removed
    via :func:`gc_ledger`."""
    ledger = os.path.join(path, _LEDGER)
    if not os.path.isdir(ledger):
        return []
    latest: dict[str, tuple[int, int]] = {}  # lineage -> (batch_id, base_v)
    for name in os.listdir(ledger):
        parsed = _ledger_marker(name)
        if parsed is None or parsed[0] != name:
            continue  # unparseable, or a sidecar
        _, lineage, bid = parsed
        try:
            with open(os.path.join(ledger, name)) as f:
                base_v = int(f.read())
        except (OSError, ValueError):
            continue
        cur = latest.get(lineage)
        if cur is None or bid > cur[0]:
            latest[lineage] = (bid, base_v)
    return sorted({base for _, base in latest.values()})


def gc_ledger(path: str, lineage: str | None = None) -> list[str]:
    """Ledger housekeeping. With ``lineage``: remove ALL of that
    checkpoint lineage's markers (+ sidecars) — the decommission step
    for a retired stream, without which its last marker pins the GC
    floor forever (prune cannot tell a down stream from a dead one).
    Without: remove only SPENT markers (every non-highest batch per
    lineage — sequential epochs make them unreplayable), bounding ledger
    growth while keeping every live pin. Returns removed filenames."""
    ledger = os.path.join(path, _LEDGER)
    if not os.path.isdir(ledger):
        return []
    by_lineage: dict[str, list[tuple[int, str]]] = {}
    sidecars: dict[str, list[str]] = {}
    for name in os.listdir(ledger):
        parsed = _ledger_marker(name)
        if parsed is None:
            continue
        marker, lin, bid = parsed
        if marker != name:
            sidecars.setdefault(marker, []).append(name)
        else:
            by_lineage.setdefault(lin, []).append((bid, name))
    removed = []
    for lin, markers in by_lineage.items():
        if lineage is not None and lin != lineage:
            continue
        markers.sort()
        doomed = markers if lineage is not None else markers[:-1]
        for _, name in doomed:
            for f in [name, *sidecars.get(name, [])]:
                fp = os.path.join(ledger, f)
                if os.path.exists(fp):
                    os.remove(fp)
                    removed.append(f)
    return sorted(removed)


def prune(path: str, keep_last: int = 2) -> list[int]:
    """GC: delete versions no retained resolution references — strictly
    older than the latest snapshot at-or-before the oldest of (the last
    ``keep_last`` versions AND every :func:`pending_pins` base). The pin
    guard closes the compact-crash-replay hole: a batch that pinned
    base_v and crashed will re-read ``read_union(base_v)`` on replay,
    so neither base_v nor its snapshot floor may be GC'd while the
    marker is pending — without it, two compacts plus one prune while a
    stream is down would delete the pinned base and the replay would
    crash-loop on the loud 'GC'd' error. Returns the deleted version
    numbers; [] when no snapshot floor exists yet (run :func:`compact`
    first).

    Deletion is fail-stop: each version's ``_COMMITTED`` marker is
    removed FIRST (not ignoring errors), so a partially-deleted version
    can never satisfy a replay's committed check and feed it silently
    incomplete data — it reads as uncommitted and fails loudly."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = committed_versions(path)
    if len(versions) <= keep_last:
        return []
    oldest_retained = min([versions[-keep_last]] + pending_pins(path))
    snaps = [v for v in versions if v <= oldest_retained and is_snapshot(path, v)]
    if not snaps:
        return []
    floor = max(snaps)
    deleted = [v for v in versions if v < floor]
    for v in deleted:
        vdir = os.path.join(path, f"v={v}")
        os.remove(os.path.join(vdir, _COMMITTED))  # de-commit first
        shutil.rmtree(vdir, ignore_errors=True)
    # Sweep ORPHANED uncommitted dirs below the floor: a crash between
    # the de-commit and the rmtree above leaves a v= dir that
    # committed_versions never lists again, so no later pass would ever
    # reclaim it — unbounded disk leak (ADVICE r10 #4). Only below the
    # floor: an uncommitted dir at-or-above it may be a live writer's
    # claimed version mid-commit.
    for name in os.listdir(path):
        if not name.startswith("v="):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        vdir = os.path.join(path, name)
        if v < floor and not os.path.exists(os.path.join(vdir, _COMMITTED)):
            shutil.rmtree(vdir, ignore_errors=True)
    return deleted
