"""Keyset (search_after) pagination over an ordered DataFrame.

The reference pages Elasticsearch with a ``search_after`` cursor on
``(auditProcessedDateTimeUtc, claimRequestId)`` (``ElasticSearch
ETL.py:220-267``). The batch-mode Spark analog is a composite cursor
predicate ``(ts, id) > (cursor_ts, cursor_id)`` + ordered limit: the
predicate pushes into the scan (partition pruning when the data is
partitioned by the cursor key), so each page reads only the tail.

The predicate follows ``orderBy``'s ``ASC NULLS FIRST`` order, so rows
with a null sort value page like any other (a null cursor value is
followed by every non-null one), and it is never NULL itself, so its
negation is exact: "not after the cursor" is "on or before it".

Pages bring only their key columns to the driver — the cursor and
whatever names the page — never the documents. Use streaming checkpoints
(streaming/export_job.py) when the source is continuous; use this when
paging a static store.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Cursor:
    values: tuple

    def __bool__(self) -> bool:
        return bool(self.values)


@dataclass(frozen=True)
class Page:
    """One page: its key rows in sort order, the cursor after it, and
    ``total``, the rows the whole pagination covers (counted on the first
    page's scan)."""

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


def page_after(
    df: DataFrame,
    sort_cols: Sequence[str],
    cursor: Optional[Cursor],
    page_size: int,
    observation: Optional[Observation] = None,
) -> DataFrame:
    """One page strictly after ``cursor`` in ``sort_cols`` order;
    ``observation`` counts every row after ``cursor`` on the way."""
    out = df
    if cursor:
        out = out.filter(after_predicate(sort_cols, cursor))
    if observation is not None:
        out = out.observe(observation, F.count(F.lit(1)).alias("n"))
    return out.orderBy(*sort_cols).limit(page_size)


def paginate(
    df: DataFrame,
    sort_cols: Sequence[str],
    page_size: int,
    start: Optional[Cursor] = None,
    key_cols: Sequence[str] = (),
) -> Iterator[Page]:
    """Iterate the pages after ``start`` until the source is exhausted.

    Each page collects only ``sort_cols`` plus ``key_cols``. The first
    page's scan also counts the rows after ``start`` (``Page.total``);
    later pages page ``df`` itself, so their cursor predicate still
    pushes into the scan, and paging stops once the pages cover that
    total — no trailing empty-page collect. The cursor advance is
    decoupled from any sink, so an empty sink write cannot stall it
    (fixes the reference's A18 re-fetch bug). Rows tied with a page's
    last key on every sort column are not in any later page; a caller
    that wants them selects "not after" that page's cursor.
    """
    keys = df.select(*dict.fromkeys([*sort_cols, *key_cols]))
    counted = Observation()
    cursor, total, seen = start, None, 0
    while total is None or seen < total:
        rows = page_after(keys, sort_cols, cursor, page_size, counted if total is None else None).collect()
        if not rows:
            return
        if total is None:
            total = counted.get["n"]
        cursor = Cursor(tuple(rows[-1][c] for c in sort_cols))
        seen += len(rows)
        yield Page(rows, cursor, total)
        if len(rows) < page_size:
            return
