"""Parquet compaction: rewrite a fragmented dataset into target-size
files — the small-files problem at scale.

A 1000-executor pipeline that writes per-task files leaves thousands
of small parquet files behind; every later scan then pays one task +
one footer read per file, and the NameNode/listing cost grows with
file count, not data size. Compaction rewrites the dataset into
``ceil(bytes / target_mb)`` files in one shuffle-free coalesce (or one
range shuffle when ``sort_by`` is given, which also re-clusters the
row groups for min/max skipping — Delta/Iceberg ``OPTIMIZE`` without
the table format).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from sdvg_spark.plan_stats import committed_files, dataset_bytes


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    *,
    target_mb: int = 256,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite ``in_path`` into ``out_path`` as ~``target_mb``-sized
    files; returns the output file count.

    Without ``sort_by``: ``coalesce`` — a NARROW dependency, no shuffle;
    each output task concatenates input splits. With ``sort_by``:
    ``repartitionByRange`` + in-partition sort — one range shuffle that
    both compacts AND clusters, so downstream predicates on the sort
    keys prune row groups.
    """
    if target_mb < 1:
        raise ValueError("target_mb must be >= 1")
    df = spark.read.parquet(in_path)
    n = max(1, math.ceil(dataset_bytes(in_path) / (target_mb * 1024 * 1024)))
    if sort_by:
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n)
    df.write.mode("overwrite").parquet(out_path)
    return len(committed_files(out_path))
