"""Streaming schema watch: the q246 evolution report attached to a live
document stream — per micro-batch, append the batch's observed
(path, kinds) profile to a standing store; read the standing store back
as the new / missing / kind_changed report at any time.

Why a separate store instead of diffing inside foreachBatch: the report
is a JOIN ACROSS batches, and a micro-batch must not re-read the corpus
— appending the O(paths) profile delta per batch keeps stream-side work
batch-bounded while the report stays a cheap batch query over the
accumulated profile relation (batches x paths x kinds rows, tiny at any
corpus size).

Exactly-once: each micro-batch writes its profile into a DETERMINISTIC
``batch=<lineage>-<id>`` directory with overwrite — a crash replay
rewrites the same directory byte-equivalently instead of appending a
duplicate profile (the export_job discipline). Profiles are idempotent
per batch by construction (a distinct relation), so the report never
double-counts a replayed batch.

Reference analog: the reference rediscovers schema per page
(`ElasticSearch ETL.py:171-217`) and remembers nothing; this watches the
schema MOVE.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
    json_schema_profile,
    json_schema_profile_deep,
    schema_evolution_report,
)
from etl_pipeline_for_elasticsearch_json_document_spark.streaming.identity import (
    start_foreach_batch,
)


def _schema_watch_processor(
    profiles_path: str,
    ckpt_id: str,
    batch_col: str,
    json_col: str,
    deep: bool = False,
    max_depth: int = 20,
):
    profile = (
        (lambda df, b, j: json_schema_profile_deep(df, b, j, max_depth))
        if deep
        else json_schema_profile
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # 'mb=', NOT 'batch=': partition discovery would read a 'batch='
        # dir token as a STRING partition column and clobber the data's
        # own bigint batch ordinal
        out = os.path.join(profiles_path, f"mb={ckpt_id}-{batch_id}")
        profile(batch_df, batch_col, json_col).write.mode(
            "overwrite"
        ).parquet(out)

    return process_batch


def run_schema_watch_stream(
    stream: DataFrame,
    profiles_path: str,
    checkpoint_dir: str,
    batch_col: str,
    json_col: str,
    trigger_available_now: bool = True,
    deep: bool = False,
    max_depth: int = 20,
):
    """Attach the schema watch to a streaming DataFrame carrying a batch
    ordinal column (day-of-export, epoch id — consecutive integers) and a
    JSON document column. Returns the StreamingQuery. ``deep=True``
    profiles FULL leaf paths (nested objects/arrays to ``max_depth``,
    :func:`json_schema_profile_deep`) instead of top-level keys — the
    per-batch append stays O(leaf paths), still corpus-independent."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _schema_watch_processor(
            profiles_path, ckpt_id, batch_col, json_col, deep, max_depth
        ),
        trigger_available_now,
    )


def _committed_profile_dirs(profiles_path: str) -> list[str]:
    """The ``mb=*`` directories holding a COMMITTED parquet write — a
    ``_SUCCESS`` marker or at least one data file. r13 (ADVICE r12): the
    r12 guard globbed for the directories alone, but a concurrently
    writing first micro-batch creates its dir before committing any
    file, so a poll landing in that window still raised the
    unable-to-infer-schema error the guard existed to close."""
    import glob

    return [
        d
        for d in glob.glob(os.path.join(profiles_path, "mb=*"))
        if glob.glob(os.path.join(d, "_SUCCESS"))
        or glob.glob(os.path.join(d, "*.parquet"))
    ]


def read_schema_report(spark: SparkSession, profiles_path: str) -> DataFrame:
    """The evolution report over every profile the stream has appended —
    one batch query over the accumulated (batch, path, kinds) relation.
    Micro-batch boundaries do not fragment a logical batch: profiles for
    the same batch ordinal from different micro-batches merge by
    re-profiling the union (kind sets re-aggregate exactly because the
    profile is a distinct relation)."""
    import pyspark.sql.functions as F

    # guard (r12, ADVICE; tightened r13): before the first micro-batch
    # COMMITS a profile the path has no readable mb=* data and spark.read
    # raises AnalysisException — monitoring must be able to poll the
    # report from stream start (and mid-first-write), so return the
    # empty report instead. An explicit read schema additionally makes a
    # dir that commits BETWEEN the glob and the read (files present,
    # nothing inferable from a still-empty sibling) yield the empty
    # report rather than an inference error.
    if not _committed_profile_dirs(profiles_path):
        return spark.createDataFrame(
            [],
            "batch bigint, path string, status string, "
            "prev_kinds string, cur_kinds string",
        )
    raw = (
        spark.read.schema("batch bigint, path string, kinds string")
        .parquet(profiles_path)
        .select("batch", "path", "kinds")  # drop the discovered mb= column
    )
    # a logical batch split across micro-batches may contribute several
    # kind-set rows per (batch, path) — merge the sets before diffing
    merged = (
        raw.select("batch", "path", F.explode(F.split("kinds", r"\+")).alias("k"))
        .distinct()
        .groupBy("batch", "path")
        .agg(F.array_join(F.array_sort(F.collect_set("k")), "+").alias("kinds"))
    )
    return schema_evolution_report(merged)


def _volume_watch_processor(
    profiles_path: str, ckpt_id: str, batch_col: str, json_col: str
):
    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        batch_volume_profile,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # deterministic mb= dir + overwrite = exactly-once (the schema
        # watch discipline); partial profiles are summable, so a logical
        # batch split across micro-batches re-aggregates exactly
        out = os.path.join(profiles_path, f"mb={ckpt_id}-{batch_id}")
        batch_volume_profile(batch_df, batch_col, json_col).write.mode(
            "overwrite"
        ).parquet(out)

    return process_batch


def run_volume_watch_stream(
    stream: DataFrame,
    profiles_path: str,
    checkpoint_dir: str,
    batch_col: str,
    json_col: str,
    trigger_available_now: bool = True,
):
    """The q250 VOLUME contract attached to a live document stream — the
    schema watch's fifth face: per micro-batch, append the O(batches)
    (batch, n_docs, n_bytes) profile delta; read the drop/surge report
    back at any time with :func:`read_volume_report`. Stream-side work is
    batch-bounded (one map-side count/sum aggregate); the report is a
    cheap batch query over the accumulated batch-domain relation."""
    return start_foreach_batch(
        stream,
        checkpoint_dir,
        lambda ckpt_id: _volume_watch_processor(
            profiles_path, ckpt_id, batch_col, json_col
        ),
        trigger_available_now,
    )


def read_volume_report(
    spark: SparkSession, profiles_path: str, trailing: int = 7
) -> DataFrame:
    """The q250 drop/surge report over every volume profile the stream
    has appended. Micro-batch boundaries do not fragment a logical
    batch: count/byte partials for the same batch ordinal SUM exactly.
    Same committed-dir guard as :func:`read_schema_report` — pollable
    from stream start and mid-first-write."""
    import pyspark.sql.functions as F

    from etl_pipeline_for_elasticsearch_json_document_spark.operators.schema_report import (
        volume_contract_report,
    )

    if not _committed_profile_dirs(profiles_path):
        return spark.createDataFrame(
            [],
            "batch bigint, n_docs bigint, n_bytes bigint, "
            "baseline_batches bigint, baseline_docs bigint, "
            "baseline_bytes bigint, dropped bigint, surged bigint",
        )
    raw = (
        spark.read.schema("batch bigint, n_docs bigint, n_bytes bigint")
        .parquet(profiles_path)
        .select("batch", "n_docs", "n_bytes")
    )
    merged = raw.groupBy("batch").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
    )
    return volume_contract_report(merged, trailing)
