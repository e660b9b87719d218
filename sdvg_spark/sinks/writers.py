"""Sinks: devnull / CSV / Parquet / HTTP / TCS, with Hive partitioning.

CSV and parquet go through one Arrow writer with a per-job staging
commit (``sinks/files.py``): it names the files ``{model}_{n}.csv`` /
``{model}_{n}.parquet``, rotates them at ``rows_per_file`` and names
the partition directories ``col=value`` / ``col=null`` itself. The
values it writes are shaped here in Spark: CSV's float precision and
Go-layout datetime formats (SURVEY.md §2.4), parquet's float rounding.

HTTP/TCS post micro-batches from ``foreachPartition`` with exponential
backoff.
"""

from __future__ import annotations

import os
import time
from typing import Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sdvg_spark.config.model import ModelSpec, OutputConfig
from sdvg_spark.sinks.files import write_files
from sdvg_spark.sinks.go_layout import go_layout_to_jdk
from sdvg_spark.sinks.template import DEFAULT_BODY_TEMPLATE

_RFC3339 = "yyyy-MM-dd'T'HH:mm:ssXXX"


def _csv_formatted(df: DataFrame, out: OutputConfig) -> DataFrame:
    """Render float/datetime columns to strings the way the reference CSV
    writer does (fixed float precision; RFC3339 or unix datetimes)."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.when(
                c.isNotNull(), F.format_string(f"%.{out.float_precision}f", c)
            ).alias(f.name)
        elif isinstance(f.dataType, T.TimestampType):
            if out.datetime_format.lower() == "unix":
                c = c.cast("long").alias(f.name)
            elif out.datetime_format:
                # user configs carry Go reference-time layouts
                # (writer/csv/csv.go:278); translate to a JDK pattern
                c = F.date_format(
                    c, go_layout_to_jdk(out.datetime_format)
                ).alias(f.name)
            else:
                c = F.date_format(c, _RFC3339).alias(f.name)
        else:
            c = c.alias(f.name)
        cols.append(c)
    return df.select(*cols)


def _parquet_rounded(df: DataFrame, out: OutputConfig) -> DataFrame:
    """The reference parquet writer rounds float values to
    ``float_precision`` decimals before writing (parquet.go:459-494,
    half-away-from-zero like Go math.Round ≙ Spark HALF_UP)."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            c = F.round(c, out.float_precision).cast(f.dataType).alias(f.name)
        cols.append(c)
    return df.select(*cols)


_ROWS_PER_TASK_CAP = 10_000_000


def _coalesce_for_rotation(df: DataFrame, model: ModelSpec) -> DataFrame:
    """Shrink task count toward ``ceil(rows / rows_per_file)`` so file
    counts track the reference's single-writer rotation instead of one
    file per task. Never coalesces a task above ~10M rows: a small model
    gets file-count parity, a 1e9-row model keeps its write parallelism
    (file-count parity is not worth serializing a cluster-scale write).
    With the default ``rows_per_file`` (= ``rows_count``) a model under
    10M rows gets ONE task, and as ``coalesce`` is narrow, so does its
    generation.
    """
    if not model.rows_count or not model.rows_per_file:
        return df
    target = -(-model.rows_count // model.rows_per_file)
    floor_tasks = -(-model.rows_count // _ROWS_PER_TASK_CAP)
    want = max(target, floor_tasks)
    # coalesce() can only reduce partition count (no-op when want >=
    # current), so no partition probe is needed — probing via df.rdd
    # forced a physical-plan build per write call.
    return df.coalesce(want)


def write_model(
    spark: SparkSession,
    df: DataFrame,
    model: ModelSpec,
    out: OutputConfig,
    mode: str = "overwrite",
) -> str:
    """Write one model's DataFrame to the configured sink; returns path.

    ``mode="append"`` is the resume path (jobs.run_generate): the
    DataFrame then covers only the missing row range."""
    path = os.path.join(out.dir, model.model_dir)

    if out.type == "devnull":
        df.write.format("noop").mode("overwrite").save()
        return "noop://"

    if out.type == "csv":
        write_files(spark, _coalesce_for_rotation(_csv_formatted(df, out), model),
                    model, out, path, mode)
        return path

    if out.type == "parquet":
        pdf = _coalesce_for_rotation(_parquet_rounded(df, out), model)
        if out.sort_by:
            # task-local sort (no shuffle): each output file's row groups
            # get tight, non-overlapping min/max stats on the sort keys,
            # so a reader filtering on them skips whole row groups
            pdf = pdf.sortWithinPartitions(*out.sort_by)
        elif out.zorder_by:
            # multi-dimensional clustering: one range shuffle on the
            # Morton code, partition keys leading (see sinks/zorder.py).
            # Overrides the rotation coalesce's partition count;
            # rows_per_file still caps file sizes.
            from sdvg_spark.sinks.zorder import apply_zorder

            pdf = apply_zorder(
                pdf, model, out, lead=[p.name for p in model.partition_columns]
            )
        write_files(spark, pdf, model, out, path, mode)
        return path

    if out.type in ("http", "tcs"):
        _write_http(df, model, out)
        return out.endpoint

    raise ValueError(f"unknown output type {out.type!r}")


def _write_http(df: DataFrame, model: ModelSpec, out: OutputConfig) -> None:
    """Micro-batched POST from each partition with exponential backoff
    (reference writer/http/http.go:81-127). Runs on executors; each
    partition posts independently, without driver involvement."""
    endpoint = out.endpoint
    headers = dict(out.headers)
    if out.type == "tcs":
        headers.setdefault("x-tcs-timeout_ms", str(int(out.timeout_seconds * 1000)))
    headers.setdefault("Content-Type", "application/json")
    batch_size = max(out.batch_size, 1)
    timeout = out.timeout_seconds
    model_name = model.name
    col_names = [f.name for f in df.schema.fields]
    body_template = out.body_template or DEFAULT_BODY_TEMPLATE

    def post_partition(rows: Iterable[Row]) -> None:
        # re-import on the executor: unpickling the closure restores the
        # `urllib` package but not the `urllib.request` submodule
        import urllib.request

        from sdvg_spark.sinks.template import render

        def send(batch: list[dict]) -> None:
            body = render(
                body_template, {"ModelName": model_name, "Rows": batch}
            ).encode("utf-8")
            delay = 1.0
            deadline = time.monotonic() + timeout
            while True:
                req = urllib.request.Request(
                    endpoint, data=body, headers=headers, method="POST"
                )
                try:
                    with urllib.request.urlopen(req, timeout=timeout) as resp:
                        if 200 <= resp.status < 300:
                            return
                        raise OSError(f"http status {resp.status}")
                except Exception:
                    if time.monotonic() + delay > deadline:
                        raise
                    time.sleep(delay)
                    delay = min(delay * 2, 600.0)

        batch: list[dict] = []
        for row in rows:
            batch.append({k: row[k] for k in col_names})
            if len(batch) >= batch_size:
                send(batch)
                batch = []
        if batch:
            send(batch)

    df.foreachPartition(post_partition)
