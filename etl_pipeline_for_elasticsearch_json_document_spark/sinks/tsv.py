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


def write_tsv(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """Tab-separated files with header (reference ``to_csv(sep='\\t')``),
    one part file per task. ``partition_by`` writes one ``<col>=<value>``
    directory per value of that column."""
    writer = df.write.partitionBy(partition_by) if partition_by else df.write
    (
        writer.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(path)
    )
