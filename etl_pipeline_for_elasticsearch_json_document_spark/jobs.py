"""The export: the reference's ``fetch_and_export_documents``
(``ElasticSearch ETL.py:201-300``) as a Spark batch pipeline, and the
one staged back that it shares with every export micro-batch
(streaming/export_job.py).

Two entry points, one back:
- the batch front (:func:`fetch_and_export_documents`) pages: the keyset
  pager (sources/keyset.py) only finds the page boundaries (one collect
  brings every row's sort keys and id to the driver, never the
  documents, and its length is the A1 count), then every row is tagged
  with its page's A17 directory name and shuffled so that each page
  lands whole in one task;
- a micro-batch is one page, labelled before its write and named after
  it, from the write's own observed ``max(id)``;
- the back (:func:`_stage_and_publish`) flattens once (the same
  within-run schema union as the reference's per-call discovery, but
  paid once) and writes ONE partitioned TSV job (one directory per page)
  into a staging directory; the page directories are moved into
  ``output_dir`` only after that write commits and its observed row
  count matches the A1 count, so a failed export leaves no partial
  pages; an empty write publishes nothing (A18).

Differences by design (documented, not accidental):
- per-batch TSV naming and SUCCESS/FAILED audit rows match A16-A21; a
  row tied with a page's last sort key joins that page, which may then
  hold more than ``batch_size`` rows;
- a batch export runs five Spark jobs whatever its page count: the key
  collect and the write (a shuffle map and a result job each) and the
  flatten discovery; the audit row is written from the driver.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import uuid
from typing import Callable, NamedTuple, Optional

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

#: partition column of the one write: the label of a row's page
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


def _publish(spark: SparkSession, fs, staging: str, output_dir: str, placed: list, name: Optional[str]) -> None:
    """Move each committed ``_page=<label>`` directory to
    ``output_dir/<label>`` (``output_dir/<name>`` when a name is given)
    with a ``_SUCCESS`` marker, replacing a same-named directory. Hadoop
    ``FileSystem`` calls, so any scheme the TSV writer accepts works here
    too."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    unescape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    for status in fs.listStatus(Path(staging)):
        label = status.getPath().getName()
        if not label.startswith(_PAGE + "="):
            continue
        dest = Path(output_dir, name or unescape(label[len(_PAGE) + 1 :]))
        fs.delete(dest, True)
        if not fs.rename(status.getPath(), dest):
            raise OSError(f"could not move {status.getPath()} to {dest}")
        placed.append(dest)
        fs.create(Path(dest, "_SUCCESS"), True).close()


class Written(NamedTuple):
    """What the back wrote: the observed row count, the observed
    ``max(id_col)`` (None without that column) and the flattened frame."""

    n: int
    last_id: object
    flat: DataFrame

    @property
    def columns(self) -> list[str]:
        """The TSV header."""
        return [c for c in self.flat.columns if c != _PAGE]


def _stage_and_publish(
    spark: SparkSession,
    docs: DataFrame,
    paged: DataFrame,
    output_dir: str,
    id_col: str,
    bug_compat: bool,
    expected: Optional[int] = None,
    name: Optional[Callable[[object], str]] = None,
) -> Written:
    """The export's back. ``paged`` is ``docs`` with each row's page
    label in ``_PAGE``: it is flattened once with the stages discovered
    on ``docs`` and written by ONE TSV job partitioned by ``_PAGE`` into
    ``output_dir/_staging_<uuid>``, under an Observation of the row count
    and ``max(id_col)``. A count other than ``expected`` raises; a count
    of 0 publishes nothing; otherwise every page directory moves into
    ``output_dir``, under ``name(last_id)`` when given. The staging
    directory is always removed, and a failure also removes what was
    published before it re-raises. An empty batch parsed with its own
    inferred schema has no column to write: its count is 0 and nothing is
    written (documents that all lack any field still fail the write)."""
    if not docs.columns and docs.isEmpty():
        return Written(0, None, docs)
    stages = flatten_stages(docs, bug_compat=bug_compat)
    metrics = [F.count(F.lit(1)).alias("n")]
    if id_col in docs.columns:
        metrics.append(F.max(id_col).alias("last_id"))
    observed = Observation()
    flat = apply_flatten_stages(paged.observe(observed, *metrics), [*stages[:-1], [*stages[-1], _PAGE]])
    staging = os.path.join(output_dir, f"_staging_{uuid.uuid4().hex}")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(staging).getFileSystem(spark._jsc.hadoopConfiguration())
    placed: list = []
    try:
        with wide_flatten_conf(spark):  # one 600+-column projection
            write_tsv(flat, staging, partition_by=_PAGE)
        n, last_id = observed.get["n"], observed.get.get("last_id")
        if expected is not None and n != expected:
            raise RuntimeError(f"export wrote {n} rows but counted {expected} source documents")
        if n:
            _publish(spark, fs, staging, output_dir, placed, name(last_id) if name else None)
        fs.delete(Path(staging), True)
    except Exception:
        with contextlib.suppress(Exception):
            for p in [*placed, Path(staging)]:
                fs.delete(p, True)
        raise
    return Written(n, last_id, flat)


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
    try:
        docs = unwrap_envelope(source)
        pages = list(paginate(docs, sort_cols, batch_size, key_cols=(id_col,)))
        total = pages[0].total if pages else 0  # A1 count
        written = 0
        if pages:  # an empty source writes nothing
            # the shuffle moves the raw documents, not the wide flattened
            # rows; each page lands whole in one task, so one part file
            paged = (
                docs.withColumn(_PAGE, _page_labels(pages, sort_cols, id_col))
                .repartition(_PAGE)
                .sortWithinPartitions(_PAGE, *sort_cols)
            )
            written = _stage_and_publish(spark, docs, paged, output_dir, id_col, bug_compat, expected=total).n
        audit.success(start_ts, batch_id=batch_id, record_count=total)
        return written
    except Exception as e:
        audit.failure(start_ts, batch_id=batch_id, error=e)
        raise
