"""Batch sinks & layout operators: repartition, row-group-sized parquet,
training cache, pandas export (reference R1/R3/S6/S8).

The reference sizes its Petastorm cache so downstream shard count ≥
training parallelism: ``repartition(defaultParallelism)`` before caching
(`03a_Model Training.py:85-86`) and
``parquet_row_group_size_bytes = dataset_bytes // defaultParallelism``
(`03a_Model Training.py:117-126`). Here that becomes plain Spark: a
repartition helper, a parquet writer with an explicit row-group size,
and a cache-materialize/cleanup pair — no Petastorm dependency, the
cache is just parquet any loader (torch, Arrow, DuckDB) can shard.

Scale note: ``repartition(n)`` is a full round-robin shuffle — use it
only right before a write whose layout matters (training shards). The
byte-sizing aggregate ships one long per partition to the driver (a
scalar agg, not a collect of rows).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Parquet enforces a row-group floor; don't let tiny test frames set a
# degenerate 1-row group size.
_MIN_ROW_GROUP_BYTES = 64 * 1024


def repartition_for(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """R1: round-robin repartition to cluster parallelism.

    The reference spreads train/test rows across workers before caching
    (`03a_Model Training.py:85-86`). Defaults to
    ``sparkContext.defaultParallelism``.
    """
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def dataset_bytes(df: DataFrame, byte_cols: tuple[str, ...] = ("content", "path")) -> int:
    """Total payload bytes of ``byte_cols`` (reference
    `03a_Model Training.py:121-122`: ``sum(length(content)+length(path))``).

    A scalar aggregate — one long per partition reaches the driver.
    Columns absent from ``df`` are skipped. String and binary columns
    count their length; every other column counts the length of its
    string rendering — for numbers exactly the implicit cast
    ``length()`` applies, for array/map/struct columns (which
    ``length()`` rejects) an estimate: ``[0.25, 1.0]`` counts 11.
    """
    types = dict(df.dtypes)
    present = [c for c in byte_cols if c in types]
    if not present:
        return 0

    def _len(c: str):
        col = F.col(c)
        if types[c] not in ("string", "binary"):
            col = col.cast("string")
        return F.sum(F.length(col))

    expr = sum((_len(c) for c in present[1:]), _len(present[0]))
    val = df.agg(expr.alias("b")).first()["b"]
    return int(val or 0)


def write_row_grouped_parquet(
    df: DataFrame,
    path: str,
    parallelism: int | None = None,
    row_group_bytes: int | None = None,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> int:
    """R3/S6: parquet write with shard-aware row-group sizing.

    ``row_group_bytes`` defaults to ``dataset_bytes // parallelism`` —
    the reference's Petastorm sizing rule (`03a_Model
    Training.py:121-126`) — so any row-group-sharding reader gets at
    least ``parallelism`` shards. Returns the row-group size used.
    """
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if row_group_bytes is None:
        total = dataset_bytes(df, tuple(df.columns))
        row_group_bytes = max(total // max(n, 1), _MIN_ROW_GROUP_BYTES)
    writer = (
        repartition_for(df, n)
        .write.mode(mode)
        .option("parquet.block.size", str(row_group_bytes))
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return row_group_bytes


@dataclass(frozen=True)
class TrainingCache:
    """Handle to a materialized parquet training cache (reference S6).

    Stands in for ``make_spark_converter``: ``path`` is plain parquet
    readable by any dataloader; ``delete()`` mirrors
    ``converter.delete()`` (`03a_Model Training.py:613-614`).
    """

    path: str
    row_group_bytes: int

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)

    def delete(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def cache_for_training(
    df: DataFrame,
    path: str,
    parallelism: int | None = None,
    row_group_bytes: int | None = None,
) -> TrainingCache:
    """S6: materialize a DataFrame as a shard-sized parquet cache."""
    used = write_row_grouped_parquet(
        df, path, parallelism=parallelism, row_group_bytes=row_group_bytes
    )
    return TrainingCache(path=path, row_group_bytes=used)


def to_pandas(df: DataFrame, limit: int | None = None) -> pd.DataFrame:
    """S8: Arrow-backed pandas export (reference
    `04a_Model Deployment.py:309-317`); ``limit`` guards the driver."""
    if limit is not None:
        df = df.limit(limit)
    return df.toPandas()


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sorted) managed table.

    The co-located-join lever at 100 TB: two tables bucketed on the
    same keys with the same bucket count join WITHOUT a shuffle — the
    scan-side bucketing satisfies the join's distribution requirement,
    so the Exchange disappears from the plan (asserted in
    tests/test_transform_sinks.py). Sorting within buckets additionally
    removes the sort from sort-merge joins. Bucketing metadata lives in
    the catalog, so this writes a saved table, not a bare path.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files —
    the OSS stand-in for Delta ``OPTIMIZE`` on a streaming-ingest sink
    (reference `02_Data Ingest.py:273-282` relies on Delta optimized
    writes; a micro-batch sink otherwise accretes one small file per
    task per trigger, and at 100 TB the NameNode/object-store listing
    cost of millions of 4 KB files dominates reads).

    Sizing uses the DIRECTORY's real on-disk bytes (compressed), not a
    plan estimate, so the target is met regardless of encoding ratios.
    The rewrite goes to ``path + '.compact.tmp'`` first and swaps in
    with two renames — readers never observe a half-written directory;
    on any failure the original directory is left untouched. Returns
    the number of files written."""
    import math
    import os

    size = 0
    for root, _dirs, files in os.walk(path):
        size += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    n_files = max(1, math.ceil(size / target_file_bytes))
    tmp = path.rstrip("/") + ".compact.tmp"
    old = path.rstrip("/") + ".compact.old"
    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(path)
    writer = (
        (df.repartition(n_files, *partition_by) if partition_by else df.repartition(n_files))
        .write.mode("overwrite")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    written = sum(
        1
        for root, _d, files in os.walk(tmp)
        for f in files
        if f.endswith(".parquet")
    )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path.rstrip("/"), old)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(old, ignore_errors=True)
    return written
