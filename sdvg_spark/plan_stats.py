"""Dataset statistics from file listings and parquet footers.

Generation never needs these (every value is a pure function of the
row index), but the ops and tools that pick a tier or size a job do:
row counts, column byte sizes, list widths and key bounds. Reading
them from footers costs O(files) driver-side metadata I/O and no Spark
job, and needs no session at all.

A dataset is a file or a directory tree. Which files belong to it
follows Spark's own listing rule (``shouldFilterOutPathName``): a file
or directory whose name starts with ``.``, or with ``_`` and holds no
``=``, is not data. That skips ``_SUCCESS``, ``.crc`` checksums, the
file sinks' ``_staging/`` and a killed Spark job's ``_temporary/``,
and keeps partition directories such as ``tag=x/`` or ``__part_tag=x/``.

Every function raises on a missing or unreadable dataset: a caller
that decides on these numbers (a resume point, a tier) must never
decide on a sentinel.
"""

from __future__ import annotations

import os
from collections.abc import Iterator


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def committed_files(path: str) -> list[str]:
    """The data files of the dataset at ``path``, sorted within each
    directory."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        out.extend(os.path.join(root, f) for f in sorted(files) if not _hidden(f))
    return out


def dataset_bytes(path: str) -> int:
    """On-disk bytes of the dataset's data files."""
    return sum(os.path.getsize(f) for f in committed_files(path))


def footers(path: str) -> Iterator:
    """One ``pyarrow.parquet.FileMetaData`` per data file."""
    import pyarrow.parquet as pq

    for f in committed_files(path):
        yield pq.ParquetFile(f).metadata


def _chunks(md, match) -> Iterator:
    """The column chunks of one footer whose ``path_in_schema``
    satisfies ``match``."""
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            if match(c.path_in_schema):
                yield c


def _top_level(col: str):
    return lambda p: p.split(".")[0] == col


def rows(path: str) -> int:
    """Row count: one ``num_rows`` per footer. (``DataFrame.count()``
    launches a real job; Spark answers parquet ``count(*)`` from footers
    only with aggregate pushdown enabled.)"""
    return sum(md.num_rows for md in footers(path))


def column_bytes(path: str, col: str) -> int:
    """Uncompressed bytes of one top-level column: an upper bound on a
    string column's character count."""
    return sum(
        c.total_uncompressed_size
        for md in footers(path)
        for c in _chunks(md, _top_level(col))
    )


def list_width(path: str, col: str) -> int | None:
    """Element width of a list column, as leaf values / rows. None when
    the column holds nulls or the division is not exact (ragged)."""
    n_rows = vals = nulls = 0
    for md in footers(path):
        n_rows += md.num_rows
        for c in _chunks(md, _top_level(col)):
            vals += c.num_values
            if c.statistics is not None and c.statistics.null_count:
                nulls += c.statistics.null_count
    if n_rows <= 0 or nulls or vals % n_rows:
        return None
    return vals // n_rows


def column_min_max(path: str, col: str) -> tuple | None:
    """(min, max) of a column from its chunk statistics; None when no
    chunk carries them."""
    lo = hi = None
    for md in footers(path):
        for c in _chunks(md, lambda p: p == col):
            st = c.statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)
