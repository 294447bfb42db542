"""Testdata table loaders (TESTDATA.md): one parquet per table.

Parquet is the engine's canonical batch source — columnar scans give free
column pruning and predicate pushdown (check ``.explain`` for
``PushedFilters`` / ``ReadSchema``). At 100 TB these tables would be
partitioned (e.g. orders/lineitem by date) and the same loaders apply.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Normalize ts to TIMESTAMP(LTZ) whatever the parquet physical type:
        # TIMESTAMP(NANOS) reads as long nanos (truncate — the synthetic data
        # has no sub-microsecond component); TIMESTAMP(MICROS, NTZ) reads as
        # TIMESTAMP_NTZ (reinterpret wall time in the session's UTC, matching
        # DuckDB's naive-timestamp semantics). Downstream operators can then
        # rely on unix_micros()/window() without per-file type dispatch.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.to_timestamp("ts"))
    return df


def fan_out_undersplit_scan(df: DataFrame, min_rows_per_file: int = 1_000_000) -> DataFrame:
    """Gated fan-out for an under-split scan feeding CPU-heavy per-row work
    (input skew, optimization guide §2.5: "one huge unsplittable file ...
    repartition immediately after the read").

    A parquet file is parallelized at row-group granularity, so a table
    that arrives as a handful of single-row-group files serializes every
    downstream map-side computation (e.g. a partial aggregation's decimal
    arithmetic) onto as many cores as there are row groups, however many
    the cluster has. One round-robin shuffle of the (narrow, pre-filtered)
    rows buys cores× throughput for everything above it.

    The gate keeps it a strict no-op everywhere else:

    - fires only when the scan has FEWER files than half the cluster's
      parallelism (at 100 TB the table arrives in thousands of splits —
      the ``len(inputFiles)`` check short-circuits before touching any
      file), and
    - only when the average file carries enough ROWS
      (``min_rows_per_file``, read from the parquet footers — disk bytes
      are a poor proxy because repetitive data dictionary-compresses 10×)
      that single-task per-row compute dominates the added exchange.
      Measured on q01: at 600k rows/file the shuffle costs more than the
      serialized aggregation it replaces (1.8 s → 3.5 s), at 2–6 M
      rows/file it wins 3.4× (15.7 s → 4.7 s).

    Row-preserving (round-robin repartition only), so any query whose
    result is partition-order-independent can adopt it without touching
    its oracle."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not 0 < len(files) < max(2, target // 2):
        return df
    try:
        import pyarrow.parquet as pq

        rows = 0
        for f in files:
            if not f.startswith("file:"):  # non-local FS: stay conservative
                return df
            path = "/" + f.removeprefix("file:").lstrip("/")
            rows += pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return df
    if rows < len(files) * min_rows_per_file:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register each table as a temp view (for the spark.sql query surface)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name + suffix)
