"""Sinks: devnull / CSV / Parquet / HTTP / TCS, with Hive partitioning.

Parquet goes through one Arrow writer with a per-job staging commit
(``sinks/parquet.py``): it names the files ``{model}_{n}.parquet`` and
the partition directories ``col=value`` / ``col=null`` itself.

CSV stays on Spark's writer, because its float precision and Go-layout
datetime formats are Spark expressions (SURVEY.md §2.4): rotation
(``rows_per_file``) -> ``maxRecordsPerFile``, Hive partition routing ->
``partitionBy``. Layout parity (reference model_writer.go:166-233,
csv.go:339-341): a post-write pass on local filesystems renames
``part-*`` files to ``{model}_{n}.csv``, ``__HIVE_DEFAULT_PARTITION__``
dirs to ``col=null``, and restores ``write_to_output: true`` partition
directory names. On object-store paths (``s3://`` etc.) renames are
O(data), so the pass is skipped and Spark's native layout is kept.

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

_RFC3339 = "yyyy-MM-dd'T'HH:mm:ssXXX"

from sdvg_spark.sinks.go_layout import go_layout_to_jdk
from sdvg_spark.sinks.template import DEFAULT_BODY_TEMPLATE


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


_PART_PREFIX = "__part_"


def _prepare_partitioning(
    df: DataFrame, model: ModelSpec
) -> tuple[DataFrame, list[str]]:
    """Partition keys for ``partitionBy``. Spark always drops partition
    columns from the data files — which matches ``write_to_output: false``
    (model_writer.go:193-199). For ``write_to_output: true`` the column
    must stay in the payload, so we partition on an aliased copy and the
    parity pass renames the directories back."""
    keys: list[str] = []
    for pc in model.partition_columns:
        if pc.write_to_output:
            alias = _PART_PREFIX + pc.name
            df = df.withColumn(alias, F.col(pc.name))
            keys.append(alias)
        else:
            keys.append(pc.name)
    return df, keys


def _restore_layout(path: str, model: ModelSpec) -> None:
    """Post-write rename pass for local paths: reference-style partition
    dir names and ``{model}_{n}.csv`` file names (csv.go:339-341)."""
    if "://" in path or not os.path.isdir(path):
        return
    # directories bottom-up so child renames happen before parents move
    for root, dirs, _files in os.walk(path, topdown=False):
        for d in dirs:
            new = d
            if new.startswith(_PART_PREFIX):
                new = new[len(_PART_PREFIX) :]
            if new.endswith("=__HIVE_DEFAULT_PARTITION__"):
                new = new[: -len("__HIVE_DEFAULT_PARTITION__")] + "null"
            if new != d:
                src, dst = os.path.join(root, d), os.path.join(root, new)
                if os.path.isdir(dst):
                    # resume/append: the parity-named dir already exists
                    # from an earlier run — merge instead of rename
                    for f in os.listdir(src):
                        os.rename(os.path.join(src, f), os.path.join(dst, f))
                    os.rmdir(src)
                else:
                    os.rename(src, dst)
    for root, _dirs, files in os.walk(path):
        parts = sorted(f for f in files if f.startswith("part-") and f.endswith(".csv"))
        if not parts:
            continue
        taken = {f for f in files if not f.startswith("part-")}
        n = 0
        for f in parts:
            while f"{model.name}_{n}.csv" in taken:  # resume/append numbering
                n += 1
            new = f"{model.name}_{n}.csv"
            taken.add(new)
            os.rename(os.path.join(root, f), os.path.join(root, new))
            crc = os.path.join(root, f".{f}.crc")
            if os.path.exists(crc):
                os.remove(crc)


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
        pdf, parts = _prepare_partitioning(
            _coalesce_for_rotation(_csv_formatted(df, out), model), model
        )
        w = (
            pdf.write.mode(mode)
            .option("header", not out.without_headers)
            .option("sep", out.delimiter)
            .option("emptyValue", "")
            .option("maxRecordsPerFile", model.rows_per_file or 0)
        )
        if parts:
            w = w.partitionBy(*parts)
        w.csv(path)
        _restore_layout(path, model)
        return path

    if out.type == "parquet":
        from sdvg_spark.sinks.parquet import write_parquet

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
        write_parquet(spark, pdf, model, out, path, mode)
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
