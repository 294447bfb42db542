"""Mergeable sketch operators (beyond the built-in HLL used by q67).

Binned quantile sketch: a fixed-range equi-width histogram whose buckets
add associatively — the mergeable-summary pattern (same algebra as
t-digest/KLL, with deterministic bin arithmetic instead of adaptive
centroids, so results are bit-identical across engines and partitionings).

Scale shape: the sketch build is one partial-aggregated groupBy (map-side
combine collapses each partition to ≤ groups × bins rows before the
shuffle); rollups across shards/days/sources merge sketches by summing
bin counts — never re-reading raw data. Quantile extraction runs on the
tiny sketch relation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def binned_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Equi-width histogram sketch: one row per (group, bin) with the count.
    Values are clamped into [lo, hi); the bin arithmetic uses only IEEE
    double ops with literal parameters, so any engine computes identical
    bins. Merging sketches = groupBy(bin).sum(cnt)."""
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0).cast("long"), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    return df.groupBy(*group_cols, b.alias("bin")).agg(F.count("*").alias("cnt"))


def sketch_quantiles(
    sketch: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Quantile estimates from a binned sketch: for each q, the midpoint of
    the first bin whose cumulative count reaches q × total. Window cumsum
    over the sketch (tiny relation — groups × bins rows), then one groupBy.
    Error is bounded by the bin width; at scale you never touch raw data."""
    width = (hi - lo) / bins
    gw = Window.partitionBy(*group_cols)
    cum = sketch.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(gw.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(gw).alias("total"),
    )
    aggs = []
    for q in qs:
        hit_bin = F.min(F.when(F.col("cum") >= F.lit(q) * F.col("total"), F.col("bin")))
        est = F.lit(lo) + (hit_bin + F.lit(0.5)) * F.lit(width)
        aggs.append(F.round(est, 6).alias(f"p{int(q * 100):02d}"))
    return cum.groupBy(*group_cols).agg(*aggs)


def binned_sketch_sql(
    table: str, group_cols: Sequence[str], value_col: str, lo: float, hi: float, bins: int
) -> str:
    """The identical sketch build as ANSI SQL (for DuckDB oracles)."""
    width = (hi - lo) / bins
    g = ", ".join(group_cols)
    # literals cast to DOUBLE — DuckDB parses bare `900.0` as DECIMAL and
    # decimal bin arithmetic could round differently from Spark's doubles
    return (
        f"SELECT {g}, CAST(least({bins - 1}, greatest(0, "
        f"floor(({value_col} - {lo!r}::DOUBLE) / {width!r}::DOUBLE))) AS INT) AS bin, "
        f"count(*) AS cnt FROM {table} GROUP BY ALL"
    )


def _cms_bucket(item, d: int, width: int):
    """Row ``d``'s bucket for ``item``: 24 bits of md5(d|item) mod width.
    Engine-portable (md5 + base conversion only) so the identical sketch is
    expressible in ANSI SQL for verification."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{d}|"), item)), 1, 6), 16, 10)
    return (h.cast("long") % width).cast("int")


def count_min_cells(df: DataFrame, item_col: str, depth: int = 4, width: int = 64) -> DataFrame:
    """Each item's ``depth`` sketch cells: one ``(item, d, bucket)`` row
    per sketch row. A stateless projection, so it runs on a streaming
    frame as well as a batch one; the sketch is the row count per cell."""
    item = F.col(item_col)
    cells = F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_bucket(item, d, width).alias("bucket"))
            for d in range(depth)
        ]
    )
    return df.select(item.alias("item"), F.explode(cells).alias("c")).select(
        "item", "c.d", "c.bucket"
    )


def count_min_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch build: one row per (d, bucket) with the collision
    count — depth × width rows total regardless of corpus size.

    The explode multiplies items by ``depth``, but partial (map-side)
    aggregation collapses every task to ≤ depth × width rows before the
    shuffle, so the shuffle volume is the sketch size, not the data size.
    Sketches merge by summing bucket counts (associative), giving the
    shard/day/source rollup story without re-reading raw data.
    """
    return (
        count_min_cells(df, item_col, depth, width)
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Point-frequency estimates: min over the sketch rows each item hashes
    into (the classic CMS upper bound — overestimates only, never under).
    The sketch side is depth × width rows, so the join broadcasts."""
    return (
        count_min_cells(items, item_col, depth, width)
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("item")
        .agg(F.min("cnt").alias("est"))
    )


def cms_bucket_sql(item: str, d: int, width: int) -> str:
    """The identical bucket hash as ANSI SQL (DuckDB oracle)."""
    return (
        f"CAST(CAST(('0x' || substring(md5('{d}|' || {item}), 1, 6)) AS BIGINT) "
        f"% {width} AS INT)"
    )
