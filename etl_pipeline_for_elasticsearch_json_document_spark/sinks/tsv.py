"""TSV batch sink with the reference's per-batch file naming.

Reference behavior (``ElasticSearch ETL.py:247-253``): each pagination
batch writes one TSV file named
``rta_claim_headers_{lastClaimId}_{utcTimestamp}.tsv`` with a header row,
tab separator, and no index column. Here each (micro-)batch writes a
directory of part files under the same naming scheme — at scale one file
per batch is an anti-pattern (single-writer bottleneck); partitioned
directories keep writes parallel while preserving batch lineage in the
path.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame


def batch_tsv_path(
    output_dir: str,
    last_id: object,
    prefix: str = "rta_claim_headers",
    now: datetime.datetime | None = None,
) -> str:
    ts = (now or datetime.datetime.now(datetime.timezone.utc)).strftime("%Y%m%d_%H%M%S")
    return os.path.join(output_dir, f"{prefix}_{last_id}_{ts}.tsv")


def write_tsv(df: DataFrame, path: str, coalesce: int | None = None, partition_by: str | None = None) -> None:
    """Tab-separated files with header (reference ``to_csv(sep='\\t')``).
    ``coalesce=1`` reproduces the reference's one-file-per-batch layout for
    small batches; leave None for parallel part files. ``partition_by``
    writes one ``<col>=<value>`` directory per value of that column."""
    out = df.coalesce(coalesce) if coalesce else df
    writer = out.write.partitionBy(partition_by) if partition_by else out.write
    (
        writer.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(path)
    )
