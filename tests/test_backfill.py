"""Partition backfill: restating a slice replaces exactly its partitions."""

from __future__ import annotations


def test_backfill_overwrites_only_named_partitions(spark, tmp_path):
    """Dynamic-overwrite backfill: restating one day replaces exactly that
    day's partition; all other partitions stay byte-identical (same files,
    same mtimes) — the idempotent-restatement contract."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_pipeline_for_elasticsearch_json_document_spark.sinks.backfill import (
        backfill_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02", "2024-01-03") for i in range(5)],
        "day string, k int, v double",
    )
    write_partitioned(full, path, ["day"])

    def snapshot(day):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(path, f"day={day}", "*.parquet"))
        }

    before_d1, before_d3 = snapshot("2024-01-01"), snapshot("2024-01-03")

    restated = spark.createDataFrame(
        [("2024-01-02", i, float(i) * 10) for i in range(3)], "day string, k int, v double"
    )
    backfill_partitions(restated, path, ["day"])

    back = spark.read.parquet(path)
    assert back.filter("day = '2024-01-02'").count() == 3  # replaced, not appended
    assert back.filter("day = '2024-01-02'").agg(F.max("v")).first()[0] == 20.0
    assert back.filter("day != '2024-01-02'").count() == 10  # untouched rows
    assert snapshot("2024-01-01") == before_d1  # same files, same mtimes
    assert snapshot("2024-01-03") == before_d3
    # idempotent: re-running the same backfill converges to the same state
    backfill_partitions(restated, path, ["day"])
    assert spark.read.parquet(path).filter("day = '2024-01-02'").count() == 3
