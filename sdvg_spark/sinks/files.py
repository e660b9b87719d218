"""File sinks: one Arrow writer for parquet and CSV, committed per task.

The reference writes ``{model}_{n}.parquet`` / ``.csv`` files, rotated
at ``rows_per_file``, one Hive partition directory per key
(writer/parquet/parquet.go, writer/csv/csv.go, model_writer.go). Here
that is one ``mapInArrow`` stage: each task splits its Arrow batches by
partition key and streams them into ``pyarrow.parquet`` writers, or
writes the CSV lines Spark's ``to_csv`` rendered (Python does no
quoting, so the bytes are those of Spark's own CSV writer).

A write task is the unit of commit. Each attempt writes under the
hidden ``<model>/_staging/<attempt id>/`` and, whole, moves it to its
mark ``<model>/_tasks/<t>/`` (``t``: its partition) unless another
attempt holds it. The driver then moves the marked files into place as
``{model}_{n}``, numbered per directory in (task, file) order, calls
``committed``, then drops the marks. Overwrite mode drops stale marks
first and the old files at commit; append keeps both and numbers past
the files there, so rerunning only the unmarked tasks finishes a failed
job or commit (``jobs.run_generate``'s resume). No ``_`` name is output.

Paths resolve through ``pyarrow.fs.FileSystem.from_uri``. Only local
paths and ``file://`` URIs are tested.
"""

from __future__ import annotations

import contextlib
import os
import re
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdvg_spark.config.model import PARQUET_CODECS, ModelSpec, OutputConfig

# reference encodings that mean "dictionary"; every other one is passed
# to pyarrow as the column's encoding. A column without a
# ``parquet.encoding`` is dictionary-encoded, as Spark's writer does.
_DICTIONARY = ("PLAIN_DICT", "RLE_DICTIONARY")

_KEY = "__key_"
_LINE = "__line"
_STAGING = "_staging"
TASKS = "_tasks"

# the characters Spark's ExternalCatalogUtils.escapePathName writes as %XX
_ESCAPED = frozenset([*map(chr, range(1, 32)), *"\"#%'*/:=?\\\x7f{[]^"])


def _escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def _split(batch: pa.RecordBatch, keys: list[str], names: list[str]):
    """(``a=x/b=y``, rows) for each distinct key tuple of ``batch``, the
    rows in batch order. A null or empty key (Spark's
    ``__HIVE_DEFAULT_PARTITION__``) is named ``null``, as the reference
    names it (model_writer.go:225-229)."""
    ids = pa.Table.from_batches([batch.select(keys)]).append_column(
        "__row", pa.array(np.arange(batch.num_rows)))
    groups = ids.group_by(keys, use_threads=False).aggregate([("__row", "list")])
    rows = groups.column("__row_list")
    for i in range(groups.num_rows):
        values = [groups.column(k)[i].as_py() for k in keys]
        yield "/".join(f"{_escape(n)}={_escape(v) if v else 'null'}"
                       for n, v in zip(names, values)), batch.take(rows[i].values)


def _floor_millis(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Timestamps floored to whole milliseconds, as Spark's
    TIMESTAMP_MILLIS and Go's ``UnixMilli`` write them; the writer's
    coercion alone would truncate toward zero."""
    cols = [pc.floor_temporal(c, unit="millisecond") if pa.types.is_timestamp(c.type) else c
            for c in batch.columns]
    return pa.RecordBatch.from_arrays(cols, schema=batch.schema)


def _path(*parts: str) -> str:
    return "/".join(p for p in parts if p)


class _Parquet:
    suffix = ".parquet"

    def __init__(self, model: ModelSpec, out: OutputConfig, payload: list[str]):
        encoding = {c.name: c.parquet.encoding for c in model.columns
                    if c.parquet and c.parquet.encoding not in _DICTIONARY and c.name in payload}
        self.options = {
            "compression": PARQUET_CODECS[out.compression.lower()],
            "use_dictionary": [c for c in payload if c not in encoding],
            "column_encoding": encoding or None,
            "coerce_timestamps": "ms" if out.timestamp_unit == "millis" else "us",
            # no ARROW:schema footer entry: Spark's writer never wrote one,
            # and at a few hundred bytes it would dominate small files
            "store_schema": False,
        }

    def open(self, fs, path: str, schema: pa.Schema):
        return pq.ParquetWriter(path, schema, filesystem=fs, **self.options)

    @staticmethod
    def write(f, tbl: pa.Table) -> None:
        f.write_table(tbl, row_group_size=tbl.num_rows)


class _Csv:
    """Files of ``header`` and then one line per row, each ended by
    ``\\n``."""

    suffix = ".csv"

    def __init__(self, header: bytes):
        self.header = header

    @classmethod
    def render(cls, spark: SparkSession, cols: list[str], out: OutputConfig):
        """(the CSV line of ``cols`` as Spark's ``to_csv`` renders it, the
        format with the header ``to_csv`` renders from the names: one
        small job). Spaces are kept and an empty string is an empty
        field, like a null. A one-field row whose line would be empty is
        written ``""``: Spark's CSV writer skipped such rows and
        ``to_csv`` fails on them."""
        options = {"sep": out.delimiter, "emptyValue": "",
                   "ignoreLeadingWhiteSpace": "false", "ignoreTrailingWhiteSpace": "false"}
        line = F.to_csv(F.struct(*cols), options)
        if len(cols) == 1:
            empty = F.coalesce(F.col(cols[0]).cast("string"), F.lit("")) == ""
            line = F.when(empty, F.lit('""')).otherwise(line)
        if out.without_headers:
            return line, cls(b"")
        (h,) = spark.range(1).select(F.to_csv(F.struct(*map(F.lit, cols)), options)).first()
        return line, cls(f"{h}\n".encode())

    def open(self, fs, path: str, schema: pa.Schema):
        f = fs.open_output_stream(path, compression=None)
        f.write(self.header)
        return f

    @staticmethod
    def write(f, tbl: pa.Table) -> None:
        ended = pc.binary_join_element_wise(tbl.column(0).combine_chunks(), "\n", "")
        text = pc.binary_join(pa.ListArray.from_arrays([0, len(ended)], ended), "")
        f.write(text[0].as_buffer())


class _DirWriter:
    """One task's rows for one partition directory: files of
    ``rows_per_file`` rows, written ``group_rows`` rows at a time (a
    parquet row group each), named ``<seq><suffix>``."""

    def __init__(self, fs, base, rel, rows_per_file, group_rows, fmt):
        self.fs, self.base, self.rel, self.fmt = fs, base, rel, fmt
        self.rows_per_file, self.group_rows = rows_per_file, group_rows
        self.pending, self.pending_rows, self.in_file, self.seq, self.writer = [], 0, 0, 0, None

    def add(self, rows: pa.RecordBatch) -> None:
        while rows.num_rows:
            cap = min(self.rows_per_file - self.in_file, self.group_rows)
            take = rows.slice(0, cap - self.pending_rows)
            rows = rows.slice(take.num_rows)
            self.pending.append(take)
            self.pending_rows += take.num_rows
            if self.pending_rows == cap:
                self._write_group()
                if self.in_file == self.rows_per_file:
                    self.close()

    def _write_group(self) -> None:
        tbl = pa.Table.from_batches(self.pending)
        if self.writer is None:
            self.file = _path(self.base, self.rel, f"{self.seq}{self.fmt.suffix}")
            self.fs.create_dir(_path(self.base, self.rel), recursive=True)
            self.writer = self.fmt.open(self.fs, self.file, tbl.schema)
        self.fmt.write(self.writer, tbl)
        self.in_file += tbl.num_rows
        self.pending, self.pending_rows = [], 0

    def close(self) -> None:
        if self.pending_rows:
            self._write_group()
        if self.writer is not None:
            self.writer.close()
            self.writer, self.in_file, self.seq = None, 0, self.seq + 1


def _remove(fs, path: str) -> None:
    info = fs.get_file_info(path)
    if info.type == pafs.FileType.Directory:
        fs.delete_dir(path)
    elif info.type == pafs.FileType.File:
        fs.delete_file(path)


def _moves(fs, root: str, name: str, suffix: str) -> Iterator[tuple[str, str]]:
    """(source, destination) of each marked file, directory by
    directory in (task, seq) order, numbered past the files there."""
    tasks, pat = _path(root, TASKS), re.compile(rf"^{re.escape(name)}_(\d+){re.escape(suffix)}$")
    marked = []
    for info in fs.get_file_info(pafs.FileSelector(tasks, allow_not_found=True, recursive=True)):
        if info.type == pafs.FileType.File:
            t, *rel, file = info.path[len(tasks) + 1:].split("/")
            marked.append(("/".join(rel), int(t), int(file[:-len(suffix)]), info.path))
    number: dict[str, int] = {}
    for rel, _t, _seq, src in sorted(marked):
        if rel not in number:
            fs.create_dir(_path(root, rel), recursive=True)
            there = fs.get_file_info(pafs.FileSelector(_path(root, rel)))
            number[rel] = max((int(m[1]) + 1 for i in there if (m := pat.match(i.base_name))), default=0)
        yield src, _path(root, rel, f"{name}_{number[rel]}{suffix}")
        number[rel] += 1


def marked_tasks(path: str) -> list[int]:
    """The tasks that hold a mark in the local model directory ``path``."""
    marks = os.path.join(path, TASKS)
    return sorted(map(int, os.listdir(marks))) if os.path.isdir(marks) else []


def write_files(
    spark: SparkSession,
    df: DataFrame,
    model: ModelSpec,
    out: OutputConfig,
    path: str,
    mode: str = "overwrite",
    task_ids: Callable[[int], range] | None = None,
    committed: Callable[[], None] | None = None,
) -> None:
    """Write ``df`` as ``model``'s files of type ``out.type`` (parquet or
    csv) under ``path``, each task its rows in the order it gets them,
    and commit them. A task marks only a whole write: all its files, and
    all the ``task_ids(t)`` rows partition ``t`` must get if given."""
    fs, root = pafs.FileSystem.from_uri(path if "://" in path else os.path.abspath(path))
    root = root.rstrip("/")
    names = [p.name for p in model.partition_columns]
    keys = [f"{_KEY}{i}" for i in range(len(names))]
    hidden = {*keys, *(p.name for p in model.partition_columns if not p.write_to_output)}
    # Spark renders the directory values, exactly as its own writer did
    df = df.select("*", *[F.col(n).cast("string").alias(k) for n, k in zip(names, keys)])
    payload = [c for c in df.columns if c not in hidden]
    if out.type == "csv":
        line, fmt = _Csv.render(spark, payload, out)
        df = df.select(line.alias(_LINE), *keys)
        payload = [_LINE]
    else:
        fmt = _Parquet(model, out, payload)
    millis = out.type == "parquet" and out.timestamp_unit == "millis"
    rows_per_file = model.rows_per_file or 1 << 62
    # files written one Arrow batch at a time, so a task's memory does
    # not grow with its row count (a batch size <= 0 is Spark's "no limit")
    group_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    group_rows = group_rows if group_rows > 0 else rows_per_file
    staging, tasks = _path(root, _STAGING), _path(root, TASKS)

    def write_task(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        t, base = ctx.partitionId(), _path(staging, str(ctx.taskAttemptId()))
        fs.create_dir(base)
        dirs: dict[str, _DirWriter] = {}
        got = 0
        for batch in batches:
            got += batch.num_rows
            if millis:
                batch = _floor_millis(batch)
            for rel, rows in _split(batch, keys, names) if keys else [("", batch)]:
                if rel not in dirs:
                    dirs[rel] = _DirWriter(fs, base, rel, rows_per_file, group_rows, fmt)
                dirs[rel].add(rows.select(payload))
        for d in dirs.values():
            d.close()
        mark = _path(tasks, str(t))
        staged = fs.get_file_info(pafs.FileSelector(base, recursive=True))
        if fs.get_file_info(mark).type != pafs.FileType.NotFound:
            _remove(fs, base)  # another attempt wrote this task
        elif (sum(i.type == pafs.FileType.File for i in staged) != sum(d.seq for d in dirs.values())
              or task_ids is not None and got != len(task_ids(t))):
            # a killed task's input ends early, as if it were whole, and
            # a failed job's staging goes while its tasks may still run
            raise RuntimeError(f"write task {t} was cut short")
        else:
            fs.create_dir(tasks)
            fs.move(base, mark)
        yield from ()

    _remove(fs, staging)
    if mode == "overwrite":
        _remove(fs, tasks)
    try:
        df.mapInArrow(write_task, "t long").collect()
    finally:
        # best effort: a failed job's tasks being killed may still write
        # there, and its marks stay for a resume
        with contextlib.suppress(OSError):
            _remove(fs, staging)
    if mode == "overwrite":
        for info in fs.get_file_info(pafs.FileSelector(root, allow_not_found=True)):
            if info.base_name not in (_STAGING, TASKS):
                _remove(fs, info.path)
    for src, dst in _moves(fs, root, model.name, fmt.suffix):
        fs.move(src, dst)
    if committed is not None:
        committed()
    _remove(fs, tasks)
