"""Keyset (search_after) pagination over an ordered DataFrame.

The reference pages Elasticsearch with a ``search_after`` cursor on
``(auditProcessedDateTimeUtc, claimRequestId)`` (``ElasticSearch
ETL.py:220-267``), one request per page. The batch-mode Spark analog
scans once: one collect of the key columns, sorted in one task, which
the driver cuts into pages. A resume cursor ``start`` becomes the
composite predicate ``(ts, id) > (cursor_ts, cursor_id)``, which pushes
into the scan (partition pruning when the data is partitioned by the
cursor key).

The predicate follows ``orderBy``'s ``ASC NULLS FIRST`` order, so rows
with a null sort value page like any other (a null cursor value is
followed by every non-null one), and it is never NULL itself, so its
negation is exact: "not after the cursor" is "on or before it".

Pages bring only their key columns to the driver — the cursor and
whatever names the page — never the documents. A page ends at
``page_size`` rows; the rows tied with its last key on every sort
column (null with null, NaN with NaN, as Spark compares) are in no
later page. Use streaming checkpoints (streaming/export_job.py) when
the source is continuous; use this when paging a static store.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Cursor:
    values: tuple

    def __bool__(self) -> bool:
        return bool(self.values)


@dataclass(frozen=True)
class Page:
    """One page: its key rows in sort order, the cursor after it, and
    ``total``, the rows the whole pagination covers."""

    rows: list[Row]
    cursor: Cursor
    total: int


def after_predicate(sort_cols: Sequence[str], cursor: Cursor) -> Column:
    """Row-value comparison (a,b,...) > (x,y,...) as an OR-of-ANDs cascade —
    the lexicographic order search_after uses, with nulls first. Each
    term is TRUE or FALSE, never NULL: a null cursor value is passed by
    ``col IS NOT NULL``, prefix equality is null-safe, and ``col > v`` is
    false for a null ``col``. Stays a plain conjunction/disjunction of
    comparisons so it pushes down to the scan."""
    pred = prefix = None
    for c, v in zip(sort_cols, cursor.values):
        col = F.col(c)
        gt = col.isNotNull() if v is None else col.isNotNull() & (col > F.lit(v))
        term = gt if prefix is None else (prefix & gt)
        pred = term if pred is None else (pred | term)
        eq = col.eqNullSafe(F.lit(v))
        prefix = eq if prefix is None else (prefix & eq)
    return pred


def _tied(row: Row, cursor: Cursor, sort_cols: Sequence[str]) -> bool:
    """``row`` equals ``cursor`` on every sort column, by Spark's rules:
    null equals null (``<=>``) and NaN equals NaN."""
    return all(a == b or (a != a and b != b) for a, b in zip((row[c] for c in sort_cols), cursor.values))


def paginate(
    df: DataFrame,
    sort_cols: Sequence[str],
    page_size: int,
    start: Optional[Cursor] = None,
    key_cols: Sequence[str] = (),
) -> Iterator[Page]:
    """Iterate the pages after ``start`` until the source is exhausted.

    One Spark action collects ``sort_cols`` plus ``key_cols`` of every row
    after ``start``: a parallel scan, then one single-task sort of those
    key columns. The driver cuts the sorted keys into pages of
    ``page_size``; ``Page.total`` is the number of rows after ``start``.
    The cursor advance is decoupled from any sink, so an empty sink write
    cannot stall it (fixes the reference's A18 re-fetch bug). Rows tied
    with a page's cursor on every sort column are not in any later page;
    a caller that wants them selects "not after" that page's cursor.
    """
    keys = df.select(*dict.fromkeys([*sort_cols, *key_cols]))
    if start:
        keys = keys.filter(after_predicate(sort_cols, start))
    rows = keys.repartition(1).sortWithinPartitions(*sort_cols).collect()
    i = 0
    while i < len(rows):
        page = rows[i : i + page_size]
        cursor = Cursor(tuple(page[-1][c] for c in sort_cols))
        i += len(page)
        while i < len(rows) and _tied(rows[i], cursor, sort_cols):
            i += 1
        yield Page(page, cursor, len(rows))
