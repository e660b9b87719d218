"""Sinks: devnull / CSV / Parquet / HTTP / TCS, with Hive partitioning.

A sink is what the generating task does with its values
(``task_consumer``) plus the driver step of ``write_model``. devnull
drops them (``_DISCARD``). HTTP/TCS post them from that task in
``batch_size`` rows with exponential backoff (reference
writer/http/http.go:81-127), at least once: a retried task posts its
batches again. CSV and parquet take them as rows into one Arrow writer
that commits task by task (``sinks/files.py``), shaped here in
Spark: CSV's float precision and Go-layout datetime formats (SURVEY.md
§2.4), parquet's float rounding.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
import urllib.request
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sdvg_spark.config.model import ModelSpec, OutputConfig
from sdvg_spark.engine import TaskConsumer
from sdvg_spark.sinks.files import write_files
from sdvg_spark.sinks.go_layout import go_layout_to_jdk
from sdvg_spark.sinks.template import DEFAULT_BODY_TEMPLATE, render

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


def file_tasks(spark: SparkSession, model: ModelSpec, out: OutputConfig, rows: int) -> int:
    """Tasks to generate and write ``rows`` rows of ``model`` to files:
    ``ceil(rows_count / rows_per_file)`` for the reference's file count,
    at most the session's parallelism, at least one per ~10M rows; then
    enough that none holds over ``checkpoint_rows``, the most a crash
    loses, as a task is the unit of commit."""
    tasks = spark.sparkContext.defaultParallelism
    if model.rows_count and model.rows_per_file:
        tasks = min(tasks, max(-(-model.rows_count // model.rows_per_file),
                               -(-model.rows_count // _ROWS_PER_TASK_CAP)))
    if out.checkpoint_rows > 0:
        tasks = max(tasks, -(-rows // out.checkpoint_rows))
    return tasks


def _counts(**counts: int) -> pa.RecordBatch:
    """A task's record: one row of int64 counts."""
    return pa.RecordBatch.from_pydict({k: pa.array([v], pa.int64()) for k, v in counts.items()})


def _schema(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.LongType(), False) for n in names])


def _discard(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """devnull in the generating task: drop the values, return the count."""
    yield _counts(rows=sum(b.num_rows for b in batches))


_DISCARD = TaskConsumer(_discard, _schema("rows"))


def _send(body: bytes, endpoint: str, headers: dict[str, str], timeout: float) -> None:
    """POST ``body``, retried with exponential backoff for ``timeout`` s."""
    delay = 1.0
    deadline = time.monotonic() + timeout
    while True:
        req = urllib.request.Request(endpoint, data=body, headers=headers, method="POST")
        try:
            # urlopen raises HTTPError unless the answer is 2xx
            with urllib.request.urlopen(req, timeout=timeout):
                return
        except Exception:
            if time.monotonic() + delay > deadline:
                raise
            time.sleep(delay)
            delay = min(delay * 2, 600.0)


def _post(batches: Iterator[pa.RecordBatch], model_name: str, out: OutputConfig) -> Iterator[pa.RecordBatch]:
    """HTTP/TCS in the generating task: its rows, one dict each, posted
    in requests of ``batch_size`` rows that may span Arrow batches;
    returns the task's (rows, requests)."""
    headers = dict(out.headers)
    if out.type == "tcs":
        headers.setdefault("x-tcs-timeout_ms", str(int(out.timeout_seconds * 1000)))
    headers.setdefault("Content-Type", "application/json")
    rows = (r for b in batches for r in b.to_pylist())
    posted = sent = 0
    while chunk := list(itertools.islice(rows, max(out.batch_size, 1))):
        body = render(out.body_template or DEFAULT_BODY_TEMPLATE, {"ModelName": model_name, "Rows": chunk})
        _send(body.encode("utf-8"), out.endpoint, headers, out.timeout_seconds)
        posted, sent = posted + len(chunk), sent + 1
    yield _counts(rows=posted, requests=sent)


def task_consumer(model: ModelSpec, out: OutputConfig) -> TaskConsumer | None:
    """What a generation task does with its values for ``out``'s sink;
    ``None``: it returns them as rows (CSV, parquet)."""
    if out.type == "devnull":
        return _DISCARD
    if out.type in ("http", "tcs"):
        return TaskConsumer(functools.partial(_post, model_name=model.name, out=out),
                            _schema("rows", "requests"))
    return None


def write_model(
    spark: SparkSession,
    df: DataFrame,
    model: ModelSpec,
    out: OutputConfig,
    mode: str = "overwrite",
    task_ids: Callable[[int], range] | None = None,
    committed: Callable[[], None] | None = None,
) -> str:
    """Write one model's DataFrame to the configured sink; returns path.

    ``df`` is what ``task_consumer(model, out)`` made of the model's
    rows: the rows themselves for CSV and parquet, one record per task
    for HTTP/TCS (devnull writes any DataFrame to ``noop``). ``mode``,
    ``task_ids`` and ``committed``: see ``sinks/files.write_files``."""
    path = os.path.join(out.dir, model.model_dir)

    if out.type == "devnull":
        df.write.format("noop").mode("overwrite").save()
        return "noop://"

    if out.type == "csv":
        write_files(spark, _csv_formatted(df, out), model, out, path, mode, task_ids, committed)
        return path

    if out.type == "parquet":
        pdf = _parquet_rounded(df, out)
        if out.sort_by:
            # task-local sort (no shuffle): each output file's row groups
            # get tight, non-overlapping min/max stats on the sort keys,
            # so a reader filtering on them skips whole row groups
            pdf = pdf.sortWithinPartitions(*out.sort_by)
        elif out.zorder_by:
            # multi-dimensional clustering: one range shuffle on the
            # Morton code, partition keys leading (see sinks/zorder.py).
            # Its write tasks are range partitions, not generation
            # tasks; rows_per_file still caps file sizes.
            from sdvg_spark.sinks.zorder import apply_zorder

            pdf = apply_zorder(pdf, model, out, lead=[p.name for p in model.partition_columns])
            task_ids = None
        write_files(spark, pdf, model, out, path, mode, task_ids, committed)
        return path

    if out.type in ("http", "tcs"):
        # the tasks posted as they ran: df holds their (rows, requests)
        posted = sum(r["rows"] for r in df.collect())
        want = model.generate_to - model.generate_from
        if posted != want:
            raise RuntimeError(f"{out.type} sink posted {posted} of {want} rows of {model.name!r}")
        return out.endpoint

    raise ValueError(f"unknown output type {out.type!r}")
