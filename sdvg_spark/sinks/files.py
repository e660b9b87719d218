"""File sinks: one Arrow writer for parquet and CSV, committed per job.

The reference writes ``{model}_{n}.parquet`` / ``.csv`` files, rotated
at ``rows_per_file``, one Hive partition directory per key
(writer/parquet/parquet.go, writer/csv/csv.go, model_writer.go). Here
that is one ``mapInArrow`` stage: each task splits its Arrow batches by
partition key and streams them into ``pyarrow.parquet`` writers, or
writes the CSV lines Spark's ``to_csv`` rendered (Python does no
quoting, so the bytes are those of Spark's own CSV writer).

Each task attempt writes under the hidden ``<model>/_staging/<attempt
id>/`` and returns one row per file. Only after the action succeeds
does the driver delete the old files (overwrite mode) and move the new
ones into place as ``{model}_{n}``, task by task. A failed job leaves
nothing that ``backup.rows_on_disk`` counts (it skips ``_`` names). A
driver that dies mid-commit leaves the first tasks' files, the last
task's perhaps in part: a prefix of the ids for an unpartitioned
model, but not for a partitioned one, whose tasks commit one directory
after another.

Paths resolve through ``pyarrow.fs.FileSystem.from_uri``. Only local
paths and ``file://`` URIs are tested.
"""

from __future__ import annotations

import contextlib
import os
import re

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
# one row per staged file, as the tasks return it
_RESULT = "dir string, part long, seq long, rows long, file string"
_RESULT_ARROW = pa.schema([("dir", pa.string()), ("part", pa.int64()), ("seq", pa.int64()),
                           ("rows", pa.int64()), ("file", pa.string())])

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
    parquet row group each). Closed files are appended to ``done``."""

    def __init__(self, fs, base, rel, rows_per_file, group_rows, fmt, done):
        self.fs, self.base, self.rel, self.fmt, self.done = fs, base, rel, fmt, done
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
            self.done.append((self.rel, self.seq, self.in_file, self.file))
            self.writer, self.in_file, self.seq = None, 0, self.seq + 1


def _remove(fs, path: str) -> None:
    info = fs.get_file_info(path)
    if info.type == pafs.FileType.Directory:
        fs.delete_dir(path)
    elif info.type == pafs.FileType.File:
        fs.delete_file(path)


def _next_number(fs, d: str, name: str, suffix: str) -> int:
    """One past the highest ``{name}_{n}{suffix}`` already in ``d``."""
    pat = re.compile(rf"^{re.escape(name)}_(\d+){re.escape(suffix)}$")
    infos = fs.get_file_info(pafs.FileSelector(d, allow_not_found=True))
    return max((int(m.group(1)) + 1 for i in infos if (m := pat.match(i.base_name))), default=0)


def _commit(fs, root: str, name: str, suffix: str, staged: list, mode: str) -> None:
    """Move the staged files into place."""
    if mode == "overwrite":
        for info in fs.get_file_info(pafs.FileSelector(root)):
            if info.base_name != _STAGING:
                _remove(fs, info.path)
    number: dict[str, int] = {}
    moves = []
    for r in sorted(staged, key=lambda r: (r.dir, r.part, r.seq)):
        if r.dir not in number:
            number[r.dir] = _next_number(fs, _path(root, r.dir), name, suffix)
            fs.create_dir(_path(root, r.dir), recursive=True)
        moves.append((r.part, r.file, _path(r.dir, f"{name}_{number[r.dir]}{suffix}")))
        number[r.dir] += 1
    moves.sort(key=lambda m: m[0])  # task by task; stable, so names ascend
    for _part, src, dst in moves:
        fs.move(_path(root, src), _path(root, dst))
    _remove(fs, _path(root, _STAGING))


def write_files(
    spark: SparkSession,
    df: DataFrame,
    model: ModelSpec,
    out: OutputConfig,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``model``'s files of type ``out.type`` (parquet or
    csv) under ``path`` and commit them. Each task writes the rows in the
    order it gets them. ``mode="append"`` numbers new files past the
    existing ones."""
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
    staging = _path(root, _STAGING)

    def write_task(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        base = _path(staging, str(ctx.taskAttemptId()))
        dirs: dict[str, _DirWriter] = {}
        done: list = []
        for batch in batches:
            if millis:
                batch = _floor_millis(batch)
            for rel, rows in _split(batch, keys, names) if keys else [("", batch)]:
                if rel not in dirs:
                    dirs[rel] = _DirWriter(fs, base, rel, rows_per_file, group_rows, fmt, done)
                dirs[rel].add(rows.select(payload))
        for d in dirs.values():
            d.close()
        yield pa.RecordBatch.from_pylist(
            [{"dir": rel, "part": ctx.partitionId(), "seq": seq, "rows": n,
              "file": file[len(root) + 1:]} for rel, seq, n, file in done],
            schema=_RESULT_ARROW)

    fs.create_dir(root, recursive=True)
    try:
        staged = df.mapInArrow(write_task, _RESULT).collect()
    except Exception:
        # best effort: tasks being killed may still write there, and a
        # leftover staging directory is never counted as output
        with contextlib.suppress(OSError):
            _remove(fs, staging)
        raise
    _commit(fs, root, model.name, fmt.suffix, staged, mode)
