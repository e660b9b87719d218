"""Value generators: the n-th element of each type's ordered value space.

Contract (mirroring the reference Generator interface, /root/reference
.../generator/value/interfaces.go:4-13): ``value(number)`` returns the
number-th element of the type's totally ordered value space after
``set_total(distinct_count)``; ``values_count`` is the size of that
space (used to clamp distinct counts and derive the jitter factor).

Each generator exposes two synchronized forms:

* ``np_value(number)``   — the execution form: a numpy kernel for the
                           engine's model evaluator, which runs every
                           column; returns a ``pyarrow.Array`` of the
                           range's own type (the engine widens it to the
                           column's, see :func:`arrow_type`). String forms
                           write UTF-8 bytes straight into Arrow buffers
                           (:func:`glyph_strings`)
* ``sql(number_expr)``   — the oracle form: a DuckDB SQL mirror for exact
                           oracle queries (None when not SQL-expressible;
                           the stepwise string and uuid unrankings use
                           ``sql_lateral``)

``number`` is the jittered draw (float64 = num + frf*factor, frf < 1 so
``floor(number) == num`` always); ``num`` is the integer draw.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone
from functools import cached_property

import numpy as np
import pyarrow as pa

from sdvg_spark.config.model import (
    DateTimeParams,
    FloatParams,
    IntegerParams,
    StringParams,
)
from sdvg_spark.core.rng import dlit
from sdvg_spark.generators import locales

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_TWO63 = float(1 << 63)

_ARROW_TYPES = {
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "timestamp": pa.timestamp("us", tz="UTC"),  # Spark's Arrow form
    "string": pa.string(),
}


def arrow_type(spark_dtype: str) -> pa.DataType:
    """The Arrow type Spark exchanges a column of ``spark_dtype`` as."""
    return _ARROW_TYPES[spark_dtype]


# ---------------------------------------------------------------------------
# strings as Arrow buffers

_MAX_OFFSET = (1 << 31) - 1  # pa.string() offsets are int32


class GlyphTable:
    """UTF-8 bytes of each glyph of a charset, zero-padded to the widest
    (``bytes``: (G, W) uint8) with each glyph's byte count (``widths``).
    A glyph code is an index into ``chars``."""

    def __init__(self, chars: str):
        enc = [c.encode() for c in chars]
        self.index = {c: i for i, c in enumerate(chars)}
        self.widths = np.array([len(e) for e in enc], dtype=np.uint8)
        self.bytes = np.zeros((len(enc), int(self.widths.max())), dtype=np.uint8)
        for i, e in enumerate(enc):
            self.bytes[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
        self.uniform = bool((self.widths == self.widths[0]).all())
        self.code_dtype = np.uint8 if len(enc) <= 256 else np.int32
        # 1-byte glyphs are ASCII, so at most 128 of them: their codes
        # map to bytes through a 256-byte ``bytes.translate`` table
        self.ascii = bytes(self.bytes[:, 0]).ljust(256, b"\0") if self.bytes.shape[1] == 1 else None

    def ascii_bytes(self, codes: np.ndarray) -> np.ndarray:
        """The byte of each code of a 1-byte table, flattened in C
        order: one ``bytes.translate`` pass, with none of the intp index
        array a numpy gather converts the uint8 codes to."""
        return np.frombuffer(codes.astype(np.uint8, copy=False).tobytes().translate(self.ascii), dtype=np.uint8)

    def codes(self, chars: str) -> np.ndarray:
        """The glyph codes of ``chars``."""
        return np.array([self.index[c] for c in chars], dtype=self.code_dtype)


def _check_offsets(total_bytes: int) -> None:
    if total_bytes > _MAX_OFFSET:
        raise OverflowError(
            f"{total_bytes} bytes of strings in one Arrow batch overflow the "
            "int32 string offsets; lower spark.sql.execution.arrow."
            "maxRecordsPerBatch"
        )


def _string_array(n: int, offsets: np.ndarray, data: np.ndarray) -> pa.StringArray:
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)
    )


def glyph_strings(
    codes: np.ndarray, glyphs: GlyphTable, lengths: np.ndarray | None = None
) -> pa.StringArray:
    """Row r of the (n, L) glyph-code matrix ``codes`` — its first
    ``lengths[r]`` codes, or all L — as the r-th string of an Arrow
    string array, built from its UTF-8 bytes with no Python strings.

    Every row a full L glyphs of one width is the fixed-stride case:
    the code matrix maps straight into the data buffer, and when each
    glyph is a single byte (an ASCII charset, a template, a phone) that
    is one ``bytes.translate`` of the codes (:meth:`GlyphTable.ascii_bytes`),
    not a 2-D gather of (G, 1) rows."""
    n, L = codes.shape
    w = glyphs.bytes.shape[1]
    if lengths is not None and (lengths == L).all():
        lengths = None
    if lengths is None and glyphs.uniform:
        _check_offsets(n * L * w)
        data = glyphs.ascii_bytes(codes) if w == 1 else glyphs.bytes[codes].reshape(-1)
        return _string_array(n, np.arange(n + 1, dtype=np.int64) * (L * w), data)
    cell = glyphs.widths[codes]  # bytes per glyph cell
    if lengths is not None:
        cell[np.arange(L)[None, :] >= lengths[:, None]] = 0
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(cell.sum(axis=1, dtype=np.int64), out=offsets[1:])
    _check_offsets(int(offsets[-1]))
    if w == 1:
        data = glyphs.ascii_bytes(codes)[(cell > 0).reshape(-1)]
    else:
        keep = np.arange(w)[None, None, :] < cell[:, :, None]
        data = glyphs.bytes[codes][keep]
    return _string_array(n, offsets, data)


def _unix_sec_nsec(dt: datetime) -> tuple[int, int]:
    """Floor seconds since epoch + nanosecond remainder (Go Unix() semantics)."""
    delta = dt - _EPOCH
    sec = delta.days * 86400 + delta.seconds
    nsec = delta.microseconds * 1000
    return sec, nsec


def _ordered_int64_np(from_: int, to: int, number: np.ndarray, total: int) -> np.ndarray:
    step = (float(to) - float(from_) + 1.0) / float(total)
    v = (step * number).astype(np.uint64).view(np.int64)  # trunc toward zero; v >= 0 always
    # from + int64(uint64(v)): two's-complement wrap addition, in place
    v += np.int64(from_)
    return v


def _ordered_int64_sql(from_: int, to: int, number_expr: str, total: int) -> str | None:
    step = (float(to) - float(from_) + 1.0) / float(total)
    if float(to) - float(from_) + 1.0 >= _TWO63:
        return None  # DuckDB BIGINT arithmetic would overflow-error
    return f"({from_} + CAST(trunc(({number_expr}) * {dlit(step)}) AS BIGINT))"


# ---------------------------------------------------------------------------


class IntegerGen:
    """n-th integer of [from, to]; semantics per reference value/integer.go."""

    def __init__(self, params: IntegerParams):
        self.p = params
        self.total = 1

    def values_count(self) -> float:
        return self.p.values_count

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)

    def np_value(self, number: np.ndarray) -> pa.Array:
        v = _ordered_int64_np(self.p.from_, self.p.to, number, self.total)
        dt = {8: np.int8, 16: np.int16, 32: np.int32, 64: np.int64}[self.p.bit_width]
        return pa.array(v.astype(dt, copy=False))

    def sql(self, number_expr: str) -> str | None:
        base = _ordered_int64_sql(self.p.from_, self.p.to, number_expr, self.total)
        if base is None:
            return None
        cast = {8: "TINYINT", 16: "SMALLINT", 32: "INTEGER", 64: "BIGINT"}[self.p.bit_width]
        return f"CAST({base} AS {cast})"


class FloatGen:
    """Linear interpolation from..to; float32 cast for bit_width 32."""

    def __init__(self, params: FloatParams):
        self.p = params
        self.total = 1

    def values_count(self) -> float:
        return math.inf

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)

    def np_value(self, number: np.ndarray) -> pa.Array:
        if self.p.from_ == self.p.to:
            v = np.full(len(number), float(self.p.from_))
        else:
            # from * (1 - s) + to * s, in place
            s = number / float(self.total)
            v = np.subtract(1.0, s)
            v *= self.p.from_
            s *= self.p.to
            v += s
        return pa.array(v.astype(np.float32) if self.p.bit_width == 32 else v)

    def sql(self, number_expr: str) -> str | None:
        if self.p.from_ == self.p.to:
            v = f"({dlit(self.p.from_)})"
        else:
            s = f"(({number_expr}) / {dlit(self.total)})"
            v = f"({dlit(self.p.from_)} * (1.0 - {s}) + {dlit(self.p.to)} * {s})"
        return f"CAST({v} AS REAL)" if self.p.bit_width == 32 else f"CAST({v} AS DOUBLE)"


class DateTimeGen:
    """Seconds and nanoseconds interpolated independently (reference
    value/datetime.go:29-67). Default unit "us" emits a Spark TIMESTAMP
    (µs — the reference's nanosecond tail truncated, documented
    deviation, SURVEY.md §7); unit "ns" emits BIGINT epoch-nanoseconds,
    lossless parity with the reference's nanosecond carry."""

    def __init__(self, params: DateTimeParams):
        self.p = params
        self.total = 1
        self.from_sec, self.from_nsec = _unix_sec_nsec(params.from_)
        self.to_sec, to_nsec = _unix_sec_nsec(params.to)
        self.to_nsec = to_nsec + (1_000_000_000 if to_nsec < self.from_nsec else 0)
        self.ns_unit = getattr(params, "unit", "us") == "ns"

    def values_count(self) -> float:
        sec_count = float(self.to_sec - self.from_sec) + 1
        nsec_count = float(self.to_nsec - self.from_nsec) + 1
        return sec_count * nsec_count

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)

    def np_value(self, number: np.ndarray) -> pa.Array:
        vsec = _ordered_int64_np(self.from_sec, self.to_sec, number, self.total)
        vnsec = _ordered_int64_np(self.from_nsec, self.to_nsec, number, self.total)
        np.subtract(vnsec, 1_000_000_000, out=vnsec, where=vnsec > 1_000_000_000)
        if self.ns_unit:
            vsec *= 1_000_000_000
            vsec += vnsec
            return pa.array(vsec)  # int64 nanos
        vsec *= 1_000_000
        vnsec //= 1000
        vsec += vnsec
        return pa.array(vsec, type=arrow_type("timestamp"))

    def sql(self, number_expr: str) -> str | None:
        vsec = _ordered_int64_sql(self.from_sec, self.to_sec, number_expr, self.total)
        vnsec_raw = _ordered_int64_sql(self.from_nsec, self.to_nsec, number_expr, self.total)
        if vsec is None or vnsec_raw is None:
            return None
        vnsec = (
            f"(CASE WHEN {vnsec_raw} > 1000000000 THEN {vnsec_raw} - 1000000000 "
            f"ELSE {vnsec_raw} END)"
        )
        if self.ns_unit:
            return f"CAST({vsec} * 1000000000 + {vnsec} AS BIGINT)"
        return f"make_timestamp({vsec} * 1000000 + {vnsec} // 1000)"


def _hex4_table() -> np.ndarray:
    """Entry ``b0 | b1 << 8`` is the uint32 whose little-endian bytes
    are the ASCII hex digits of ``b0`` then ``b1``."""
    hex2 = np.frombuffer("".join(f"{b:02x}" for b in range(256)).encode(), dtype="<u2")
    pair = np.arange(1 << 16)
    return hex2[pair & 0xFF].astype("<u4") | hex2[pair >> 8].astype("<u4") << 16


class UUIDGen:
    """16 bytes drawn by repeated base-255 digit extraction of
    number/total, then RFC-4122 v4/variant bits forced; canonical
    36-char string form (reference value/uuid.go:28-48)."""

    def __init__(self):
        self.total = 1

    def values_count(self) -> float:
        return float((1 << 118) - 1)

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)

    # the 4 hex digits of each byte pair (b0, b1), at index b0 | b1 << 8
    # (the little-endian uint16 view of the pair): 256 KB, built once
    _HEX4 = _hex4_table()
    # the canonical 8-4-4-4-12 string as one 36-byte record: word i is
    # the hex of byte pair i, and the dashes sit between the groups
    _WORDS = (0, 4, 9, 14, 19, 24, 28, 32)
    _DASHES = (8, 13, 18, 23)
    _RECORD = np.dtype(
        {
            "names": [f"w{i}" for i in range(8)] + [f"d{i}" for i in range(4)],
            "formats": ["<u4"] * 8 + ["u1"] * 4,
            "offsets": [*_WORDS, *_DASHES],
            "itemsize": 36,
        }
    )

    def np_value(self, number: np.ndarray) -> pa.Array:
        """The canonical strings of the draws ``number``, as one Arrow
        string array.

        The 16-step ``floor(255·idx)`` digit chain writes its bytes one
        column at a time into an (n, 16) uint8 matrix; each byte pair is
        then 4 hex digits gathered from :attr:`_HEX4` through the
        matrix's uint16 view, and the 8 words and 4 dashes fill one
        36-byte record per row, which is the string buffer: no
        transpose, no (n, 33) digit matrix, no per-character gather."""
        n = len(number)
        idx = number / float(self.total)
        pos = np.empty(n)
        b = np.empty((n, 16), dtype=np.uint8)
        for i in range(16):  # 16 vectorized passes, no per-row work
            np.multiply(idx, 255.0, out=idx)
            np.floor(idx, out=pos)
            b[:, i] = pos
            # x - floor(x) >= 0 for every x (IEEE subtraction is
            # monotone), so the mirror's greatest(..., 0.0) is a no-op
            np.subtract(idx, pos, out=idx)
        b[:, 6] = (b[:, 6] & 0x0F) | 0x40
        b[:, 8] = (b[:, 8] & 0x3F) | 0x80
        _check_offsets(36 * n)
        hex4 = self._HEX4.take(b.view("<u2"))
        out = np.empty(n, dtype=self._RECORD)
        for i in range(8):
            out[f"w{i}"] = hex4[:, i]
        for i in range(4):
            out[f"d{i}"] = ord("-")
        return _string_array(n, np.arange(n + 1, dtype=np.int64) * 36, out.view(np.uint8))

    def sql(self, number_expr: str) -> str | None:
        return None

    def sql_lateral(
        self, number_expr: str, prefix: str
    ) -> tuple[list[tuple[str, str]], str]:
        """DuckDB mirror of :meth:`np_value` via lateral column aliases.

        The 16-step ``floor(255·idx)`` digit chain is stepwise IEEE
        float arithmetic — each stage must reference the *named* prior
        stage (a closed form would round differently), which lateral
        aliases express without exponential expression blowup.
        """
        lat: list[tuple[str, str]] = [(f"{prefix}i0", f"(({number_expr}) / {dlit(self.total)})")]
        for i in range(16):
            lat.append((f"{prefix}b{i}", f"floor(255.0 * {prefix}i{i})"))
            lat.append(
                (
                    f"{prefix}i{i+1}",
                    f"greatest(255.0 * {prefix}i{i} - {prefix}b{i}, 0.0)",
                )
            )
        byte_exprs = [f"CAST({prefix}b{i} AS INTEGER)" for i in range(16)]
        byte_exprs[6] = f"(({byte_exprs[6]} & 15) | 64)"   # version 4
        byte_exprs[8] = f"(({byte_exprs[8]} & 63) | 128)"  # RFC 4122 variant
        fmt = "%02x" * 4 + "-" + "%02x" * 2 + "-" + "%02x" * 2 + "-" + "%02x" * 2 + "-" + "%02x" * 6
        value = f"printf('{fmt}', {', '.join(byte_exprs)})"
        return lat, value


class EnumGen:
    """values[floor(number) / rows_per_value] over the pre-sorted literal
    list (nulls first). ``values`` must already be coerced/sorted by the
    config layer."""

    def __init__(self, values: list, column_type: str):
        self.values = values
        self.column_type = column_type
        self.total = 1
        self.rows_per_value = 1

    @property
    def spark_dtype(self) -> str:
        return {
            "integer": "int",
            "float": "float",
            "string": "string",
            "datetime": "timestamp",
            "uuid": "string",
        }[self.column_type]

    def values_count(self) -> float:
        return float(len(self.values))

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)
        self.rows_per_value = math.ceil(self.total / len(self.values))

    @cached_property
    def _arrow_values(self) -> pa.Array:
        """``values`` as an Arrow array of :attr:`spark_dtype` (config
        validation keeps integer literals inside int32)."""
        return pa.array(self.values, type=arrow_type(self.spark_dtype))

    def np_value(self, number: np.ndarray) -> pa.Array:
        idx = number.astype(np.int64)
        if self.rows_per_value > 1:
            idx //= self.rows_per_value
        return self._arrow_values.take(pa.array(idx))

    def sql(self, num_expr: str, duck_type: str | None = None) -> str:
        def lit(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, str):
                esc = v.replace("'", "''")
                return f"'{esc}'"
            if isinstance(v, datetime):
                return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
            return repr(v)

        items = ", ".join(lit(v) for v in self.values)
        cast = f"::{duck_type}" if duck_type else ""
        return f"(([{items}])[(({num_expr}) // {self.rows_per_value})::BIGINT + 1]){cast}"


# ---------------------------------------------------------------------------
# string family


class StringGen:
    """Dispatches on logical_type/template like the reference
    StringGenerator (value/string.go): plain lexicographic strings,
    templates, names, phones, or word-unranked text."""

    def __init__(self, params: StringParams):
        self.p = params
        self.total = 1
        self.pack = locales.get_locale(params.locale)
        self.charset = locales.charset_for(params)
        self.count_by_prefix: list[float] = []
        self.sum_by_prefix: list[float] = []
        self.completions: list[int] = []
        self._prepare()

    def __getstate__(self) -> dict:
        """Pickle as the params and total only: a task closure then
        carries no locale pack, charset or cached table, and unpickling
        rebuilds them from the process's cached :func:`locales.get_locale`."""
        return {"p": self.p, "total": self.total}

    def __setstate__(self, state: dict) -> None:
        self.__init__(state["p"])
        self.set_total(state["total"])

    def _prepare(self) -> None:
        p = self.p
        if p.logical_type == "first_name" and not self.pack.first_names(p.min_length, p.max_length):
            raise ValueError(
                f"no first names with length in [{p.min_length}, {p.max_length}]"
            )
        if p.logical_type == "last_name" and not self.pack.last_names_filtered(
            p.min_length, p.max_length
        ):
            raise ValueError(
                f"no last names with length in [{p.min_length}, {p.max_length}]"
            )
        if p.logical_type == "phone" and not self.pack.phone_patterns_filtered(
            p.min_length, p.max_length
        ):
            raise ValueError(
                f"no phone patterns with length in [{p.min_length}, {p.max_length}]"
            )
        if p.logical_type == "text":
            # length-bucketed word tables: the unranking picks a word
            # LENGTH first (≤ ~13 buckets), then indexes into the
            # bucket — O(#lengths) per pick on both the numpy and SQL
            # paths instead of an O(#words) scan (the distinction is a
            # pure re-enumeration of the same value space: comp[] totals
            # are identical, only the rank→text bijection differs).
            by_len: dict[int, list[str]] = {}
            for w in self.pack.words:
                by_len.setdefault(len(w) + 1, []).append(w)
            self.text_wlens = sorted(by_len)
            self.text_by_len = [by_len[L] for L in self.text_wlens]
            self.completions = self._calc_completions(p.max_length + 1)
            # cums[rem] = 0-prepended prefix sums over length buckets of
            # cnt_L * comp[rem - L]; zero blocks (inadmissible lengths)
            # are skipped by upper-bound search automatically
            max_pre = len(self.completions) - 1
            self.text_cums = []
            for rem in range(max_pre + 1):
                acc, row = 0, [0]
                for L, bucket in zip(self.text_wlens, self.text_by_len):
                    if L <= rem:
                        acc += len(bucket) * self.completions[rem - L]
                    row.append(acc)
                self.text_cums.append(row)

    # -- completions DP for text unranking (reference value/string.go:129-171)
    def _calc_completions(self, length: int) -> list[int]:
        comp = [0] * (length + 2)
        comp[0] = 1
        # comp[1]: a 1-char terminal word with no trailing delimiter
        # (L buckets key on len(w)+1, so 1-char words live in L == 2)
        comp[1] = len(self.text_by_len[self.text_wlens.index(2)]) if 2 in self.text_wlens else 0
        for l in range(2, length + 1):
            for L, bucket in zip(self.text_wlens, self.text_by_len):
                if L <= l:
                    comp[l] += len(bucket) * comp[l - L]
        out = []
        for c in comp[: length + 1]:
            if c > (1 << 63) - 1:
                break
            out.append(c)
        return out

    def values_count(self) -> float:
        p = self.p
        if p.template:
            pack = self.pack
            return (
                float(len(pack.large_letters)) ** p.template.count("A")
                + float(len(pack.small_letters)) ** p.template.count("a")
                + float(len(locales.NUMBERS)) ** p.template.count("0")
                + float(len(locales.SPECIAL_CHARS)) ** p.template.count("#")
            )
        if p.logical_type == "first_name":
            return float(len(self.pack.first_names(p.min_length, p.max_length)))
        if p.logical_type == "last_name":
            return float(len(self.pack.last_names_filtered(p.min_length, p.max_length)))
        if p.logical_type == "phone":
            return float(
                sum(
                    10.0 ** pat.count("#")
                    for pat in self.pack.phone_patterns_filtered(p.min_length, p.max_length)
                )
            )
        if p.logical_type == "text":
            if p.min_length > len(self.completions):
                return math.inf
            return float(
                sum(
                    self.completions[length + 1]
                    for length in range(p.min_length, p.max_length + 1)
                    if length + 1 < len(self.completions)
                )
            )
        total = 0.0
        for length in range(p.min_length, p.max_length + 1):
            total += float(len(self.charset)) ** length
        return total

    def set_total(self, total: int) -> None:
        self.total = max(total, 1)
        p = self.p
        if not p.logical_type and not p.template:
            n_len = p.max_length - p.min_length + 1
            count_by_length = [0.0] * (p.max_length + 1)
            avg = math.ceil(self.total / n_len)
            for length in range(p.min_length, p.max_length + 1):
                range_count = float(len(self.charset)) ** length
                if avg > range_count:
                    cur = range_count
                    if length < p.max_length:
                        avg += (avg - range_count) / float(p.max_length - length)
                else:
                    cur = math.ceil(avg)
                count_by_length[length] = cur
            self.count_by_prefix = [0.0] * (p.max_length + 2)
            self.sum_by_prefix = [0.0] * (p.max_length + 2)
            for prefix in range(p.max_length + 1):
                div = float(len(self.charset)) ** prefix
                self.count_by_prefix[prefix] = count_by_length[prefix] / div
                for length in range(p.max_length - prefix + 1):
                    self.sum_by_prefix[prefix] += count_by_length[length + prefix] / div

    # -- SQL mirrors --------------------------------------------------------

    def sql(self, number_expr: str) -> str | None:
        p = self.p
        if p.template:
            return None
        if p.logical_type in ("first_name", "last_name"):
            items = (
                self.pack.first_names(p.min_length, p.max_length)
                if p.logical_type == "first_name"
                else self.pack.last_names_filtered(p.min_length, p.max_length)
            )
            pos = _ordered_int64_sql(0, len(items) - 1, number_expr, self.total)
            lits = ", ".join("'" + s.replace("'", "''") + "'" for s in items)
            return f"([{lits}])[{pos} + 1]"
        if p.logical_type == "phone":
            return self._phone_sql(number_expr)
        return None

    def sql_lateral(
        self, number_expr: str, prefix: str
    ) -> tuple[list[tuple[str, str]], str] | None:
        """DuckDB mirror of the stepwise string unrankings.

        Template columns: the same ``floor(base·idx)`` digit chain as
        UUID (lateral aliases keep IEEE rounding identical
        stage-for-stage), one drawn character per placeholder.
        Plain strings: the prefix-table walk of :meth:`_simple_np`
        (reference simpleString, value/string.go:382-410) unrolled to
        ``max_length`` lateral stages carrying (remaining, active,
        length) per row, plus the quadratic-probe tail extension.
        """
        p = self.p
        if not p.logical_type and not p.template and p.max_length <= 32:
            return self._simple_sql_lateral(number_expr, prefix)
        if p.logical_type == "text" and len(self.completions) <= 80:
            return self._text_sql_lateral(number_expr, prefix)
        if not p.template:
            return None
        from sdvg_spark.generators import locales as _loc

        lat: list[tuple[str, str]] = [
            (f"{prefix}i0", f"(({number_expr}) / {dlit(self.total)})")
        ]
        parts: list[str] = []
        j = 0
        for ch in p.template:
            letters = {
                "A": self.pack.large_letters,
                "a": self.pack.small_letters,
                "0": _loc.NUMBERS,
                "#": _loc.SPECIAL_CHARS,
            }.get(ch)
            if letters is None:
                parts.append("'" + ch.replace("'", "''") + "'")
                continue
            base = len(letters)
            lat.append((f"{prefix}b{j}", f"floor({base}.0 * {prefix}i{j})"))
            lat.append(
                (
                    f"{prefix}i{j+1}",
                    f"greatest({base}.0 * {prefix}i{j} - {prefix}b{j}, 0.0)",
                )
            )
            lits = ", ".join("'" + c.replace("'", "''") + "'" for c in letters)
            parts.append(f"([{lits}])[CAST({prefix}b{j} AS INTEGER) + 1]")
            j += 1
        return lat, "(" + " || ".join(parts) + ")"

    def _simple_sql_lateral(
        self, number_expr: str, prefix: str
    ) -> tuple[list[tuple[str, str]], str]:
        p = self.p
        cbp, sbp, cs = self.count_by_prefix, self.sum_by_prefix, self.charset
        ncs = len(cs)
        cs_list = "[" + ", ".join("'" + c.replace("'", "''") + "'" for c in cs) + "]"
        n_len = p.max_length - p.min_length + 1
        lat: list[tuple[str, str]] = [
            (f"{prefix}r0", f"(({number_expr})::DOUBLE)"),
            (f"{prefix}ni", f"CAST(trunc({number_expr}) AS BIGINT)"),
            (f"{prefix}a0", "TRUE"),
            (f"{prefix}L0", "-1"),
        ]
        for d in range(p.max_length + 1):
            nxt = sbp[d + 1] if d + 1 < len(sbp) else 0.0
            # remain[active] -= cbp[d]
            lat.append(
                (f"{prefix}ra{d}",
                 f"(CASE WHEN {prefix}a{d} THEN {prefix}r{d} - {dlit(cbp[d])} ELSE {prefix}r{d} END)")
            )
            stop_cond = f"({prefix}ra{d} < 0.0)" if nxt != 0.0 else "TRUE"
            lat.append((f"{prefix}s{d}", f"({prefix}a{d} AND {stop_cond})"))
            lat.append(
                (f"{prefix}L{d+1}",
                 f"(CASE WHEN {prefix}s{d} THEN {d} ELSE {prefix}L{d} END)")
            )
            lat.append((f"{prefix}a{d}_", f"({prefix}a{d} AND NOT {prefix}s{d})"))
            if d >= p.max_length:
                # loop epilogue: rows still active get plen = max_length
                lat.append(
                    (f"{prefix}len",
                     f"(CASE WHEN {prefix}a{d}_ THEN {d} ELSE {prefix}L{d+1} END)")
                )
                break
            # active rows draw char d and update remain
            lat.append(
                (f"{prefix}i{d}",
                 f"(CASE WHEN {prefix}a{d}_ THEN floor({prefix}ra{d} / {dlit(nxt)}) ELSE 0.0 END)")
            )
            lat.append(
                (f"{prefix}r{d+1}",
                 f"(CASE WHEN {prefix}a{d}_ THEN {prefix}ra{d} - {dlit(nxt)} * {prefix}i{d} ELSE {prefix}ra{d} END)")
            )
            lat.append(
                (f"{prefix}c{d}",
                 f"least(CAST({prefix}i{d} AS BIGINT), {ncs - 1})")
            )
            lat.append((f"{prefix}a{d+1}", f"{prefix}a{d}_"))
        # tail extension: short prefixes pad to min_len + num % n_len
        lat.append(
            (f"{prefix}dest",
             f"(CASE WHEN {prefix}len < {p.min_length} "
             f"THEN {p.min_length} + ({prefix}ni % {n_len}) ELSE {prefix}len END)")
        )
        parts = []
        for pos in range(p.max_length):
            ext_idx = (
                f"((({prefix}ni + ({pos} - {prefix}len) * ({pos} - {prefix}len)) % {ncs}) + {ncs}) % {ncs}"
            )
            body_char = f"({cs_list})[CAST({prefix}c{pos} AS INTEGER) + 1]" if pos < p.max_length else "''"
            parts.append(
                f"(CASE WHEN {pos} < {prefix}len THEN {body_char} "
                f"WHEN {pos} < {prefix}dest THEN ({cs_list})[({ext_idx}) + 1] "
                f"ELSE '' END)"
            )
        return lat, "(" + " || ".join(parts) + ")"

    def _text_sql_lateral(
        self, number_expr: str, prefix: str
    ) -> tuple[list[tuple[str, str]], str]:
        """DuckDB mirror of :meth:`_text_np` (reference text unranking,
        value/string.go:239-324).

        The per-row word search "find first w with k < comp[rem-wlen],
        else k -= comp[...]" is an upper-bound over the prefix sums of
        those counts; the DP identity comp[rem] = Σ_w comp[rem-wlen]
        bounds every sum below 2^63, so the cumulative tables embed as
        one nested BIGINT list literal indexed by `rem`. The loop
        unrolls to ≤ ⌈max_pre/2⌉+1 stages carrying (rem, k, text, len,
        ok); tail padding repeats a single k-chosen word.
        """
        p = self.p
        words = list(self.pack.words)
        one_letter = self.pack.one_letter_words()
        comp = self.completions
        wlens, by_len, cums = self.text_wlens, self.text_by_len, self.text_cums
        n_lens = len(wlens)
        max_pre = len(comp) - 1
        n_words = len(words)
        n_len = p.max_length - p.min_length + 1
        delim = locales.WORDS_DELIMITER

        def slit(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        words_lit = "[" + ", ".join(slit(w) for w in words) + "]"
        onelet_lit = "[" + ", ".join(slit(w) for w in one_letter) + "]"
        # length-bucket tables (see __init__): per-pick search is over
        # ≤ ~13 length blocks, never the full word list
        wlens_lit = "[" + ",".join(str(L) for L in wlens) + "]"
        compl_lit = "[" + ",".join(str(c) for c in comp) + "]"
        bl_lit = (
            "["
            + ", ".join("[" + ", ".join(slit(w) for w in b) + "]" for b in by_len)
            + "]"
        )
        cums_lit = (
            "["
            + ", ".join("[" + ",".join(str(v) for v in row) + "]" for row in cums)
            + "]"
        )

        # bulky lookup literals live in a one-row CTE; scalar subqueries
        # of it are uncorrelated, so DuckDB evaluates them once, and the
        # SQL text stays small however many stages reference them
        vt = f"{prefix}vt"
        ctes = [
            (
                vt,
                f"SELECT {words_lit} AS w, {wlens_lit} AS wl, "
                f"{onelet_lit} AS ol, {compl_lit} AS cp, "
                f"{bl_lit} AS bl, {cums_lit} AS cm",
            )
        ]
        W = f"(SELECT w FROM {vt})"
        WL = f"(SELECT wl FROM {vt})"
        OL = f"(SELECT ol FROM {vt})"
        CP = f"(SELECT cp FROM {vt})"
        BL = f"(SELECT bl FROM {vt})"
        CM = f"(SELECT cm FROM {vt})"
        lat: list[tuple[str, str]] = [
            (f"{prefix}ni", f"CAST(trunc({number_expr}) AS BIGINT)"),
        ]
        lat.append(
            (f"{prefix}wanted", f"({p.min_length} + 1 + ({prefix}ni % {n_len}))")
        )
        lat.append(
            (
                f"{prefix}k0",
                f"CAST(floor({dlit(float(comp[max_pre] - 1))} * "
                f"(({number_expr}) / {dlit(self.total)})) AS BIGINT)",
            )
        )
        lat += [
            (f"{prefix}rem0", f"{max_pre}"),
            (f"{prefix}t0", "''"),
            (f"{prefix}tl0", "0"),
            (f"{prefix}ok0", "TRUE"),
        ]
        n_stages = max_pre // 2 + 2
        for s in range(n_stages):
            P = prefix
            act = f"({P}ok{s} AND {P}rem{s} > 0)"
            term = f"({act} AND {P}rem{s} = 1)"
            mid = f"({act} AND {P}rem{s} > 1)"
            cum = f"({CM}[{P}rem{s} + 1])"
            # j = index of the length block containing k: count of
            # prefix-sum entries <= k minus the leading 0 (zero-width
            # blocks collapse to equal entries, so the upper bound
            # skips them); the list is ≤ #distinct-lengths long
            lat.append(
                (
                    f"{P}j{s}",
                    f"(CASE WHEN {mid} THEN len(list_filter({cum}, c -> c <= {P}k{s})) - 1 ELSE {n_lens} END)",
                )
            )
            found = f"({P}j{s} < {n_lens})"
            # block geometry: word length, per-word completion count,
            # offset within block -> (word index, next k)
            lat.append(
                (
                    f"{P}wl{s}",
                    f"(CASE WHEN {mid} AND {found} THEN {WL}[CAST({P}j{s} AS INTEGER) + 1] ELSE 2 END)",
                )
            )
            lat.append(
                (
                    f"{P}c{s}",
                    f"(CASE WHEN {mid} AND {found} THEN {CP}[CAST({P}rem{s} - {P}wl{s} AS INTEGER) + 1] ELSE 1 END)",
                )
            )
            lat.append(
                (
                    f"{P}of{s}",
                    f"(CASE WHEN {mid} AND {found} THEN {P}k{s} - {cum}[CAST({P}j{s} AS INTEGER) + 1] ELSE 0 END)",
                )
            )
            lat.append(
                (
                    f"{P}ok{s+1}",
                    f"(CASE WHEN {term} THEN {P}k{s} <= {len(one_letter) - 1} "
                    f"WHEN {mid} THEN {found} ELSE {P}ok{s} END)",
                )
            )
            lat.append(
                (
                    f"{P}t{s+1}",
                    f"(CASE WHEN {term} AND {P}k{s} <= {len(one_letter) - 1} "
                    f"THEN {P}t{s} || {OL}[CAST({P}k{s} AS INTEGER) + 1] "
                    f"WHEN {mid} AND {found} "
                    f"THEN {P}t{s} || {BL}[CAST({P}j{s} AS INTEGER) + 1][CAST({P}of{s} // {P}c{s} AS INTEGER) + 1] || {slit(delim)} "
                    f"ELSE {P}t{s} END)",
                )
            )
            lat.append(
                (
                    f"{P}tl{s+1}",
                    f"(CASE WHEN {term} THEN {P}tl{s} + 1 "
                    f"WHEN {mid} AND {found} THEN {P}tl{s} + {P}wl{s} "
                    f"ELSE {P}tl{s} END)",
                )
            )
            lat.append(
                (
                    f"{P}rem{s+1}",
                    f"(CASE WHEN {term} THEN 0 "
                    f"WHEN {mid} AND {found} THEN {P}rem{s} - {P}wl{s} "
                    f"ELSE {P}rem{s} END)",
                )
            )
            lat.append(
                (
                    f"{P}k{s+1}",
                    f"(CASE WHEN {mid} AND {found} THEN {P}of{s} % {P}c{s} "
                    f"ELSE {P}k{s} END)",
                )
            )
        S = n_stages
        P = prefix
        lat.append((f"{P}okF", f"({P}ok{S} AND {P}rem{S} = 0)"))
        lat.append(
            (f"{P}pw", f"{W}[CAST({P}k{S} % {n_words - 1} AS INTEGER) + 1]")
        )
        lat.append(
            (
                f"{P}padded",
                f"(CASE WHEN {P}tl{S} < {P}wanted THEN {P}t{S} || repeat({P}pw || {slit(delim)}, "
                f"CAST(ceil(({P}wanted - {P}tl{S})::DOUBLE / (length({P}pw) + 1)) AS INTEGER)) "
                f"ELSE {P}t{S} END)",
            )
        )
        value = (
            f"(CASE WHEN NOT {P}okF THEN '' "
            f"WHEN length({P}padded) > {P}wanted THEN substring({P}padded, 1, CAST({P}wanted AS INTEGER)) "
            f"ELSE {P}padded END)"
        )
        return lat, value, ctes

    def _phone_sql(self, number_expr: str) -> str:
        pats = self.pack.phone_patterns_filtered(self.p.min_length, self.p.max_length)
        pos = _ordered_int64_sql(0, len(pats) - 1, number_expr, self.total)
        cases = []
        for k, pat in enumerate(pats):
            ndig = pat.count("#")
            max_phone = 10**ndig - 1
            pn = _ordered_int64_sql(0, max_phone, number_expr, self.total)
            digits = f"lpad(CAST({pn} AS VARCHAR), {ndig}, '0')"
            import re as _re

            parts = []
            di = 1
            for run in _re.findall(r"#+|[^#]+", pat):
                if run.startswith("#"):
                    parts.append(f"substring({digits}, {di}, {len(run)})")
                    di += len(run)
                else:
                    parts.append("'" + run.replace("'", "''") + "'")
            cases.append(f"WHEN {pos} = {k} THEN concat({', '.join(parts)})")
        return "(CASE " + " ".join(cases) + " END)"

    # -- numpy kernels ------------------------------------------------------

    def np_value(self, number: np.ndarray) -> pa.Array:
        p = self.p
        if p.template:
            return self._template_np(number)
        if p.logical_type in ("first_name", "last_name"):
            return self._list_pick_np(number)
        if p.logical_type == "phone":
            return self._phone_np(number)
        if p.logical_type == "text":
            return self._text_np(number)
        return self._simple_np(number)

    @cached_property
    def _names(self) -> pa.Array:
        p = self.p
        if p.logical_type == "first_name":
            return pa.array(self.pack.first_names(p.min_length, p.max_length), pa.string())
        return pa.array(self.pack.last_names_filtered(p.min_length, p.max_length), pa.string())

    def _list_pick_np(self, number: np.ndarray) -> pa.Array:
        pos = _ordered_int64_np(0, len(self._names) - 1, number, self.total)
        return self._names.take(pa.array(pos))

    @cached_property
    def _phone_glyphs(self) -> tuple[list[str], GlyphTable]:
        pats = self.pack.phone_patterns_filtered(self.p.min_length, self.p.max_length)
        literals = sorted({ch for pat in pats for ch in pat} - set("#" + locales.NUMBERS))
        return pats, GlyphTable(locales.NUMBERS + "".join(literals))

    def _phone_np(self, number: np.ndarray) -> pa.Array:
        """Pattern pick + zero-padded digit fill (reference phone,
        value/string.go:221-237): the i-th '#' of the picked pattern is
        the i-th digit of the pattern's number written with ``ndig``
        digits, as the SQL form's ``lpad`` writes it."""
        pats, glyphs = self._phone_glyphs
        pos = _ordered_int64_np(0, len(pats) - 1, number, self.total)
        codes = np.zeros((len(number), max(map(len, pats))), dtype=glyphs.code_dtype)
        lengths = np.zeros(len(number), dtype=np.int64)
        for k, pat in enumerate(pats):
            rows = np.flatnonzero(pos == k)
            if not rows.size:
                continue
            ndig = pat.count("#")
            pn = _ordered_int64_np(0, 10**ndig - 1, number[rows], self.total)
            while (big := pn >= 10**ndig).any():  # lpad keeps the leading digits
                pn[big] //= 10
            sub = np.empty((rows.size, len(pat)), dtype=glyphs.code_dtype)
            di = ndig
            for j, ch in enumerate(pat):
                if ch == "#":
                    di -= 1
                    sub[:, j] = pn // 10**di % 10  # digit glyph code == digit
                else:
                    sub[:, j] = glyphs.index[ch]
            codes[rows, : len(pat)] = sub
            lengths[rows] = len(pat)
        return glyph_strings(codes, glyphs, lengths)

    @cached_property
    def _template_slots(self) -> tuple[GlyphTable, list[tuple[int, np.ndarray | int]]]:
        """The template's glyph table and, per character, either its
        class's glyph codes (a drawn slot) or the literal's code."""
        pack = self.pack
        classes = {
            "A": pack.large_letters,
            "a": pack.small_letters,
            "0": locales.NUMBERS,
            "#": locales.SPECIAL_CHARS,
        }
        tmpl = self.p.template
        glyphs = GlyphTable("".join(dict.fromkeys("".join(classes.get(ch, ch) for ch in tmpl))))
        slots = []
        for ch in tmpl:
            letters = classes.get(ch)
            slots.append((len(letters), glyphs.codes(letters)) if letters else (0, glyphs.index[ch]))
        return glyphs, slots

    def _template_np(self, number: np.ndarray) -> pa.Array:
        """Digit-chain fill of A/a/0/# template slots (reference
        templateString, value/string.go:174-201)."""
        glyphs, slots = self._template_slots
        idx = number / float(self.total)
        codes = np.empty((len(number), len(slots)), dtype=glyphs.code_dtype)
        for j, (base, table) in enumerate(slots):
            if not base:
                codes[:, j] = table
                continue
            flo = base * idx
            pos = np.floor(flo)
            idx = flo - pos  # >= 0: the mirror's greatest(..., 0.0) is a no-op
            codes[:, j] = table[pos.astype(np.int64)]
        return glyph_strings(codes, glyphs)

    @cached_property
    def _charset_glyphs(self) -> GlyphTable:
        return GlyphTable(self.charset)

    def _simple_np(self, number: np.ndarray) -> pa.Array:
        """Vectorized lexicographic unranking using the prefix tables
        (reference simpleString, value/string.go:382-410). The walk
        carries the shrinking list ``act`` of rows still descending;
        while every row still descends (always, for a fixed length, up
        to float rounding) ``act`` is all rows and the walk writes whole
        code columns with no compress step. A prefix count of 0 (every
        length below ``min_length``) subtracts nothing and is skipped."""
        p = self.p
        cbp = self.count_by_prefix
        sbp = self.sum_by_prefix
        glyphs = self._charset_glyphs
        ncs = len(self.charset)
        n = len(number)
        L = max(p.max_length, 1)
        codes = np.zeros((n, L), dtype=glyphs.code_dtype)
        plen = np.zeros(n, dtype=np.int64)
        act = slice(None)  # every row, until one stops
        remain = number.astype(np.float64)
        for depth in range(p.max_length + 1):
            if cbp[depth]:
                remain -= cbp[depth]
            nxt = sbp[depth + 1] if depth + 1 < len(sbp) else 0.0
            if nxt == 0.0:
                plen[act] = depth
                break
            go = remain >= 0
            if not go.all():
                if isinstance(act, slice):
                    act = np.arange(n)
                plen[act[~go]] = depth
                act, remain = act[go], remain[go]
                if not act.size:
                    break
            if depth >= p.max_length:
                plen[act] = depth
                break
            q = np.floor(remain / nxt)
            remain -= nxt * q
            codes[act, depth] = np.minimum(q, ncs - 1, out=q)
        # short strings extend to dest = min_len + num % n_len with
        # cs[(num + i*i) % |cs|], i = offset past the prefix
        n_len = p.max_length - p.min_length + 1
        dest = plen
        short = np.flatnonzero(plen < p.min_length)
        if short.size:
            numi = number.astype(np.int64)
            dest = plen.copy()
            dest[short] = p.min_length + numi[short] % n_len
            pos_grid = np.arange(L)[None, :]
            s_plen = plen[short][:, None]
            ext = (pos_grid >= s_plen) & (pos_grid < dest[short][:, None])
            i_off = pos_grid - s_plen
            sub = codes[short]
            sub[ext] = ((numi[short][:, None] + i_off * i_off) % ncs)[ext]
            codes[short] = sub
        return glyph_strings(codes, glyphs, dest)

    def _text_np(self, number: np.ndarray) -> pa.Array:
        """Combinatorial unranking of word sequences (reference text,
        value/string.go:239-324, re-enumerated by length bucket so each
        pick is O(#distinct word lengths), not O(#words))."""
        from bisect import bisect_right

        p = self.p
        words = list(self.pack.words)
        one_letter = self.pack.one_letter_words()
        comp = self.completions
        wlens, by_len, cums = self.text_wlens, self.text_by_len, self.text_cums
        n_lens = len(wlens)
        max_pre = len(comp) - 1
        n_len = p.max_length - p.min_length + 1
        out = []
        for num in number.tolist():
            wanted = p.min_length + 1 + int(num) % n_len
            k = int(math.floor((comp[max_pre] - 1) * (num / float(self.total))))
            parts: list[str] = []
            text_len = 0
            remaining = max_pre
            ok = True
            while remaining > 0:
                if remaining == 1:
                    if k > len(one_letter) - 1:
                        ok = False
                        break
                    parts.append(one_letter[k])
                    text_len += 1
                    break
                row = cums[remaining]
                t = bisect_right(row, k) - 1
                if t >= n_lens:  # k beyond every block: no completion
                    ok = False
                    break
                L = wlens[t]
                c = comp[remaining - L]
                off = k - row[t]
                parts.append(by_len[t][off // c])
                parts.append(locales.WORDS_DELIMITER)
                k = off % c
                text_len += L
                remaining -= L
            if not ok:
                out.append("")
                continue
            while text_len < wanted:
                w = words[k % (len(words) - 1)]
                parts.append(w)
                parts.append(locales.WORDS_DELIMITER)
                text_len += len(w) + 1
            text = "".join(parts)
            out.append(text[:wanted] if len(text) > wanted else text)
        return pa.array(out, type=pa.string())


def make_value_gen(column_type: str, params) -> IntegerGen | FloatGen | DateTimeGen | UUIDGen | EnumGen | StringGen:
    """Build the value generator for one range (enum beats type params)."""
    if params.values is not None:
        return EnumGen(params.values, column_type)
    if column_type == "integer":
        return IntegerGen(params.type_params)
    if column_type == "float":
        return FloatGen(params.type_params)
    if column_type == "string":
        return StringGen(params.type_params)
    if column_type == "datetime":
        return DateTimeGen(params.type_params)
    if column_type == "uuid":
        return UUIDGen()
    raise ValueError(f"unsupported type {column_type!r}")
