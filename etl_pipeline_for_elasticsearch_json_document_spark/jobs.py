"""Batch export job: the reference's ``fetch_and_export_documents``
(``ElasticSearch ETL.py:201-300``) as a Spark batch pipeline.

Differences by design (documented, not accidental):
- the keyset pager (sources/keyset.py) only finds the page boundaries:
  one collect brings every row's sort keys and id to the driver, never
  the documents, and its length is the A1 count;
- every row is then tagged with its page's A17 directory name, and the
  whole export is flattened once and written by ONE partitioned TSV job
  (one part file per page, rows in sort order) into a staging directory;
  the page directories are moved into ``output_dir`` only after that
  write commits and its row count matches the A1 count, so a failed
  export leaves no partial pages (one write per page left the pages
  written before a failure behind);
- per-batch TSV naming and SUCCESS/FAILED audit rows match A16-A21; a
  row tied with a page's last sort key joins that page, which may then
  hold more than ``batch_size`` rows;
- the flatten plan is generated once for the whole export (the same
  within-run schema union as the reference's per-call discovery, but
  paid once);
- an export runs five Spark jobs whatever its page count: the key
  collect and the write (a shuffle map and a result job each) and the
  flatten discovery; the audit row is written from the driver.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_for_elasticsearch_json_document_spark.plans.flatten import (
    apply_flatten_stages,
    flatten_stages,
    unwrap_envelope,
    wide_flatten_conf,
)
from etl_pipeline_for_elasticsearch_json_document_spark.sinks.audit import AuditLog
from etl_pipeline_for_elasticsearch_json_document_spark.sinks.tsv import batch_tsv_path, write_tsv
from etl_pipeline_for_elasticsearch_json_document_spark.sources.keyset import Page, paginate

#: partition column of the one write: the A17 directory name of a row's page
_PAGE = "_page"


def _page_labels(pages: list[Page], sort_cols, id_col: str) -> Column:
    """Each row's A17 directory name: that of its page, found by counting
    the page cursors its key sorts after. The cursors are one sorted
    array of structs; a struct compares field by field in ``orderBy``'s
    ASC NULLS FIRST order with NaN last and equal to NaN, as the pager
    sorts and cuts, so a row tied with a cursor joins that cursor's page.
    The cursors are data in the expression, not one branch per page: the
    optimiser folds both arrays into literals."""
    names = []
    for p in pages:
        last_id = max((r[id_col] for r in p.rows if r[id_col] is not None), default=None)
        names.append(batch_tsv_path("", last_id))  # the name only
    key = F.struct(*sort_cols)
    cursors = F.array(*[F.struct(*[F.lit(v).alias(c) for c, v in zip(sort_cols, p.cursor.values)]) for p in pages])
    passed = F.size(F.filter(cursors, lambda c: c < key))
    return F.element_at(F.array(*map(F.lit, names)), passed + 1)


def _publish(spark: SparkSession, fs, staging: str, output_dir: str, placed: list) -> None:
    """Move each committed ``_page=<name>`` directory to ``output_dir/<name>``
    with a ``_SUCCESS`` marker, replacing a same-named directory, then
    delete the staging directory. Hadoop ``FileSystem`` calls, so any
    scheme the TSV writer accepts works here too."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    unescape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    for status in fs.listStatus(Path(staging)):
        name = status.getPath().getName()
        if not name.startswith(_PAGE + "="):
            continue
        dest = Path(output_dir, unescape(name[len(_PAGE) + 1 :]))
        fs.delete(dest, True)
        if not fs.rename(status.getPath(), dest):
            raise OSError(f"could not move {status.getPath()} to {dest}")
        placed.append(dest)
        fs.create(Path(dest, "_SUCCESS"), True).close()
    fs.delete(Path(staging), True)


def fetch_and_export_documents(
    spark: SparkSession,
    source: DataFrame,
    output_dir: str,
    audit_path: str,
    sort_cols: tuple[str, str] = ("auditProcessedDateTimeUtc", "claimRequestId"),
    id_col: str = "claimRequestId",
    batch_size: int = 1000,
    bug_compat: bool = False,
) -> int:
    """Export ``source`` documents as flattened per-batch TSVs + audit row.
    Returns the number of documents exported."""
    start_ts = datetime.datetime.now(datetime.timezone.utc)
    batch_id = start_ts.strftime("%Y%m%d%H%M%S")  # A21 run-id scheme
    audit = AuditLog(spark, audit_path)
    staging = os.path.join(output_dir, f"_staging_{uuid.uuid4().hex}")
    fs, placed = None, []
    try:
        docs = unwrap_envelope(source)
        pages = list(paginate(docs, sort_cols, batch_size, key_cols=(id_col,)))
        total = pages[0].total if pages else 0  # A1 count
        written = 0
        if pages:  # an empty source writes nothing
            stages = flatten_stages(docs, bug_compat=bug_compat)
            # the shuffle moves the raw documents, not the wide flattened
            # rows; each page lands whole in one task, so one part file
            tagged = (
                docs.withColumn(_PAGE, _page_labels(pages, sort_cols, id_col))
                .repartition(_PAGE)
                .sortWithinPartitions(_PAGE, *sort_cols)
            )
            flat = apply_flatten_stages(tagged, [*stages[:-1], [*stages[-1], _PAGE]])
            counted = Observation()
            fs = spark._jvm.org.apache.hadoop.fs.Path(staging).getFileSystem(spark._jsc.hadoopConfiguration())
            with wide_flatten_conf(spark):  # one 600+-column projection
                write_tsv(flat.observe(counted, F.count(F.lit(1)).alias("n")), staging, partition_by=_PAGE)
            written = counted.get["n"]
            if written != total:
                raise RuntimeError(f"export wrote {written} rows but counted {total} source documents")
            _publish(spark, fs, staging, output_dir, placed)
        audit.success(start_ts, batch_id=batch_id, record_count=total)
        return written
    except Exception as e:
        if fs is not None:
            with contextlib.suppress(Exception):
                for p in [*placed, spark._jvm.org.apache.hadoop.fs.Path(staging)]:
                    fs.delete(p, True)
        audit.failure(start_ts, batch_id=batch_id, error=e)
        raise
