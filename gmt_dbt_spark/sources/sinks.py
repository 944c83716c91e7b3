"""Sinks — SURVEY.md §2.A: truncate-load, CTAS, staging lifecycle.

Path-based parquet writes (no metastore dependency — the correctness
driver's session has no configured warehouse). At cluster scale the
same calls target any Hadoop-FS URI; `partition_by` date keys gives
partition pruning on the read side.

`sink_overwrite` is the reference's WRITE_TRUNCATE load job
(`gcp_function.py:115-131`); `sink_ctas` is the *intent* of the
bronze dbt models (CTAS copy into a bronze layer — the models' own
embedded DDL is a reference bug, SURVEY.md §3.2); `StagingTable` is
the `<table>_temp` create-merge-drop lifecycle
(`gcp_function.py:159-164`, drop at `:112`); `overwrite_swap` is the
read-modify-write of a target in place (MERGE rewrites).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def sink_overwrite(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Full-refresh truncate load (WRITE_TRUNCATE)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_swap(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df``, which may read
    ``path`` itself: write a sibling directory, then rename it over
    the target. Spark's own overwrite deletes the target before the
    job runs, so a plan that scans it would need a materialization
    (an eager local checkpoint) first; the sibling write needs none.
    A failed write removes the sibling and leaves the old target
    untouched."""
    swap = f"{path.rstrip(os.sep)}__swap_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("errorifexists").parquet(swap)
    except BaseException:
        shutil.rmtree(swap, ignore_errors=True)
        raise
    if os.path.exists(path):
        os.rename(path, swap + "_old")
    os.rename(swap, path)
    shutil.rmtree(swap + "_old", ignore_errors=True)


def sink_ctas(spark: SparkSession, select_df: DataFrame, path: str) -> DataFrame:
    """CREATE TABLE AS SELECT: materialize a query result as a new
    table and return the scan of the materialized copy."""
    select_df.write.mode("errorifexists").parquet(path)
    return spark.read.parquet(path)


class StagingTable:
    """`<table>_temp` staging lifecycle: write on enter, drop on exit."""

    def __init__(self, spark: SparkSession, df: DataFrame, path: str):
        self.spark = spark
        self.df = df
        self.path = path

    def __enter__(self) -> DataFrame:
        self.df.write.mode("overwrite").parquet(self.path)
        return self.spark.read.parquet(self.path)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
