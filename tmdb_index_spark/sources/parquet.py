"""Parquet scan & sink (SURVEY.md §2.1 S1/S2).

Reference: load-or-bootstrap (tmdb_index.py:668-673) and a zstd,
statistics-enabled single-file sink (tmdb_index.py:706-710).

Scale notes: the single-file artifact is a PUBLISHING convention, not an
execution one — ``coalesce(1)`` happens only at the sink, never
mid-plan.  At 100 TB you'd instead ``repartitionByRange("id")`` into
sized files plus a manifest; ``write_index`` exposes that via
``target_files``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tmdb_index_spark.operators.materialize import local_frame
from tmdb_index_spark.schemas import empty_index_schema

__all__ = ["scan_or_empty", "write_index", "write_single_parquet"]


def scan_or_empty(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read the index if present, else an empty bootstrap frame
    (reference tmdb_index.py:668-673: fresh runs start from ``{id}``),
    built by :func:`~tmdb_index_spark.operators.materialize.local_frame`
    like the feed batches."""
    if os.path.exists(path):
        return spark.read.parquet(path)
    return local_frame(spark, [], schema or empty_index_schema())


def write_index(
    df: DataFrame, path: str, target_files: int = 1, order_by: str = "id"
) -> None:
    """Write the index as zstd parquet (statistics are always written by
    Spark's parquet writer; min/max enable consumers' row-group skipping
    — the reference enables them for the same reason, tmdb_index.py:709).

    ``target_files=1`` reproduces the reference's single-file artifact;
    larger values range-partition by ``order_by`` for cluster-scale
    output (each file covers a contiguous id range → consumers' id/range
    predicates prune whole files).
    """
    if target_files == 1:
        write_single_parquet(df.orderBy(order_by), path)
    else:
        (
            df.repartitionByRange(target_files, order_by)
            .sortWithinPartitions(order_by)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(path)
        )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    compression: str = "zstd",
) -> None:
    """Hive-partitioned zstd parquet sink — the cluster-scale artifact
    next to the single-file reference-parity one.

    Dynamic partition overwrite replaces ONLY the partitions present in
    ``df`` (the daily-incremental shape: writing one day's batch leaves
    every other day's directory untouched), and the directory layout
    gives consumers partition pruning on the partition columns for
    free.
    """
    df.sparkSession.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("compression", compression)
        .parquet(path)
    )


def write_single_parquet(df: DataFrame, path: str) -> None:
    """Produce ONE ``.parquet`` file at ``path`` (a file, not a dir).

    Spark writes directories; the reference's artifact is a single file
    consumers open directly (README.md:6-12).  Coalesce to one task at
    the sink only, write to a temp dir, move the part file into place.
    """
    tmp = tempfile.mkdtemp(prefix="tmdb_index_spark_", dir=os.path.dirname(path) or ".")
    try:
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(os.path.join(tmp, "out"))
        )
        parts = glob.glob(os.path.join(tmp, "out", "part-*.parquet"))
        if len(parts) != 1:
            raise RuntimeError(f"expected one part file, got {parts}")
        shutil.move(parts[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_jsonl_gz(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Spark-native gzipped-JSONL scan (SURVEY.md §2.1 S3's Spark
    primitive): ``spark.read.json`` decompresses ``.gz`` transparently
    and the declared schema skips inference (one pass, no driver
    materialization — the scale path the reference's driver-side
    ``fetch_jsonl_gz`` streamer maps to when the export lands on
    shared storage instead of HTTP).

    Note: one ``.gz`` file is one non-splittable task — at scale the
    export should be landed as many files (or recompressed) so the
    scan parallelizes.
    """
    return spark.read.schema(schema).json(path)
