"""Generation-config frontend: parse -> fill defaults -> validate.

The config is the engine's entire "query language": a map of models
(tables), each a row count plus typed column specs. Semantics mirror the
reference's strict three-phase ingestion (studied at /root/reference
internal/generator/models/generator.go:70-102 and
generator_model.go:197-308): inline params are normalized into
``ranges[0]``, range percentages are auto-balanced to sum to 1, enum
values are coerced to the column type and sorted ascending with nulls
first, and foreign-key columns must carry no other params and point at a
non-FK column of some model.

Everything here is pure Python — no Spark imports — so configs are
unit-testable and usable driver-side only.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field, fields
from datetime import datetime, timezone
from typing import Any

SUPPORTED_TYPES = ("integer", "float", "string", "datetime", "uuid")
STRING_LOGICAL_TYPES = ("", "first_name", "last_name", "phone", "text")
SUPPORTED_LOCALES = ("ru", "en")

DEFAULT_DATETIME_FROM = datetime(1900, 1, 1, tzinfo=timezone.utc)
DEFAULT_DATETIME_TO = datetime(2025, 1, 1, tzinfo=timezone.utc)

MAX_FLOAT32 = 3.4028234663852886e38
MAX_FLOAT64 = 1.7976931348623157e308


class ConfigError(ValueError):
    """Raised on invalid generation configs (all errors aggregated)."""


def _utc(dt: datetime) -> datetime:
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def parse_datetime(v: Any) -> datetime:
    if isinstance(v, datetime):
        return _utc(v)
    if isinstance(v, str):
        s = v.strip()
        if s.endswith("Z"):
            s = s[:-1] + "+00:00"
        return _utc(datetime.fromisoformat(s))
    raise ConfigError(f"cannot parse datetime from {v!r}")


@dataclass
class IntegerParams:
    bit_width: int = 0
    from_: int | None = None
    to: int | None = None

    def fill_defaults(self) -> None:
        if self.bit_width == 0:
            self.bit_width = 32
        if self.from_ is None:
            self.from_ = -(1 << (self.bit_width - 1))
        if self.to is None:
            self.to = (1 << (self.bit_width - 1)) - 1

    def validate(self) -> list[str]:
        errs = []
        if self.bit_width not in (8, 16, 32, 64):
            errs.append(f"unsupported integer bit width: {self.bit_width}")
        if self.from_ > self.to:
            errs.append(f"'from' ({self.from_}) must be <= 'to' ({self.to})")
        return errs

    @property
    def values_count(self) -> float:
        # exact integer math first, then one float conversion (the value
        # space can exceed 2^63)
        return float(self.to - self.from_ + 1)


@dataclass
class FloatParams:
    bit_width: int = 0
    from_: float | None = None
    to: float | None = None

    def fill_defaults(self) -> None:
        if self.bit_width == 0:
            self.bit_width = 32
        limit = MAX_FLOAT32 if self.bit_width == 32 else MAX_FLOAT64
        if self.from_ is None:
            self.from_ = -limit
        if self.to is None:
            self.to = limit

    def validate(self) -> list[str]:
        errs = []
        if self.bit_width not in (32, 64):
            errs.append(f"unsupported float bit width: {self.bit_width}")
        if self.from_ > self.to:
            errs.append(f"'from' ({self.from_}) must be <= 'to' ({self.to})")
        return errs

    @property
    def values_count(self) -> float:
        return math.inf


@dataclass
class StringParams:
    min_length: int = 0
    max_length: int = 0
    locale: str = ""
    logical_type: str = ""
    template: str = ""
    without_large_letters: bool = False
    without_small_letters: bool = False
    without_numbers: bool = False
    without_special_chars: bool = False

    def fill_defaults(self) -> None:
        if self.min_length == 0:
            self.min_length = 1
        if self.max_length == 0:
            self.max_length = 32
        if not self.locale:
            self.locale = "en"
        self.locale = self.locale.lower()
        self.logical_type = self.logical_type.lower()

    def validate(self) -> list[str]:
        errs = []
        if self.min_length > self.max_length:
            errs.append(
                f"min length ({self.min_length}) must be <= max length ({self.max_length})"
            )
        if self.locale not in SUPPORTED_LOCALES:
            errs.append(f"unknown locale: {self.locale}")
        if self.logical_type not in STRING_LOGICAL_TYPES:
            errs.append(f"unknown logical type: {self.logical_type}")
        return errs


@dataclass
class DateTimeParams:
    from_: datetime | None = None
    to: datetime | None = None
    # "us" (default) -> Spark TIMESTAMP (µs, the reference's ns tail
    # truncated); "ns" -> BIGINT epoch-nanoseconds, lossless parity with
    # the reference's nanosecond datetimes (value/datetime.go:29-50) at
    # the cost of the column surfacing as an integer.
    unit: str = "us"

    def fill_defaults(self) -> None:
        if self.from_ is None:
            self.from_ = DEFAULT_DATETIME_FROM
        if self.to is None:
            self.to = DEFAULT_DATETIME_TO

    def validate(self) -> list[str]:
        errs = []
        if self.from_ > self.to:
            errs.append(f"'from' ({self.from_}) must be before 'to' ({self.to})")
        if self.unit not in ("us", "ns"):
            errs.append(f"datetime unit must be us|ns, got {self.unit!r}")
        return errs


@dataclass
class ParquetParams:
    encoding: str = ""

    SUPPORTED = (
        "PLAIN", "PLAIN_DICT", "RLE", "RLE_DICTIONARY", "DELTA_BINARY_PACKED",
        "DELTA_BYTE_ARRAY", "DELTA_LENGTH_BYTE_ARRAY", "BYTE_STREAM_SPLIT",
    )

    def fill_defaults(self) -> None:
        if not self.encoding:
            self.encoding = "PLAIN"

    def validate(self) -> list[str]:
        if self.encoding not in self.SUPPORTED:
            return [f"unsupported parquet encoding: {self.encoding}"]
        return []


@dataclass
class ParamsSpec:
    """One generation range (a column has >= 1 of these)."""

    column_type: str = ""
    type_params: IntegerParams | FloatParams | StringParams | DateTimeParams | None = None
    values: list[Any] | None = None
    null_percentage: float = 0.0
    distinct_percentage: float = 0.0
    distinct_count: int = 0
    range_percentage: float = 0.0
    ordered: bool = False

    def parse(self, raw_type_params: Any) -> None:
        tp = raw_type_params or {}
        if not isinstance(tp, dict):
            raise ConfigError(f"type_params must be a mapping, got {tp!r}")
        t = self.column_type
        if t == "integer":
            self.type_params = IntegerParams(
                bit_width=int(tp.get("bit_width", 0)),
                from_=None if tp.get("from") is None else int(tp["from"]),
                to=None if tp.get("to") is None else int(tp["to"]),
            )
        elif t == "float":
            self.type_params = FloatParams(
                bit_width=int(tp.get("bit_width", 0)),
                from_=None if tp.get("from") is None else float(tp["from"]),
                to=None if tp.get("to") is None else float(tp["to"]),
            )
        elif t == "string":
            self.type_params = StringParams(
                min_length=int(tp.get("min_length", 0)),
                max_length=int(tp.get("max_length", 0)),
                locale=str(tp.get("locale", "")),
                logical_type=str(tp.get("logical_type", "")),
                template=str(tp.get("template", "")),
                without_large_letters=bool(tp.get("without_large_letters", False)),
                without_small_letters=bool(tp.get("without_small_letters", False)),
                without_numbers=bool(tp.get("without_numbers", False)),
                without_special_chars=bool(tp.get("without_special_chars", False)),
            )
        elif t == "datetime":
            self.type_params = DateTimeParams(
                from_=None if tp.get("from") is None else parse_datetime(tp["from"]),
                to=None if tp.get("to") is None else parse_datetime(tp["to"]),
                unit=str(tp.get("unit", "us")),
            )
        elif t == "uuid":
            self.type_params = None
        else:
            raise ConfigError(f"unsupported type {t!r}")

    def fill_defaults(self) -> None:
        if self.type_params is not None:
            self.type_params.fill_defaults()

    def validate(self) -> list[str]:
        errs = []
        if not (0 <= self.range_percentage <= 1):
            errs.append(f"range percentage must be in [0,1], got {self.range_percentage}")
        if not (0 <= self.null_percentage <= 1):
            errs.append(f"null percentage must be in [0,1], got {self.null_percentage}")
        if not (0 <= self.distinct_percentage <= 1):
            errs.append(
                f"distinct percentage must be in [0,1], got {self.distinct_percentage}"
            )
        if self.values is not None and (self.distinct_percentage or self.distinct_count):
            errs.append("forbidden to use enum values with distinct params")
        if self.distinct_percentage and self.distinct_count:
            errs.append("forbidden to use distinct_percentage and distinct_count together")
        if self.type_params is not None:
            errs.extend(self.type_params.validate())
        if self.values is not None and not errs:
            try:
                self._coerce_and_sort_values()
            except ConfigError as e:
                errs.append(f"enum values: {e}")
        return errs

    def _coerce_and_sort_values(self) -> None:
        """Coerce enum literals to the column type, sort ascending with
        nulls first (the reference's PostProcess contract)."""
        t = self.column_type
        coerced: list[Any] = []
        for v in self.values:
            if v is None:
                coerced.append(None)
                continue
            try:
                if t == "integer":
                    coerced.append(int(str(v)) if not isinstance(v, bool) else int(v))
                elif t == "float":
                    coerced.append(float(str(v)))
                elif t == "string":
                    if isinstance(v, bool):
                        coerced.append("true" if v else "false")
                    elif isinstance(v, float) and v.is_integer():
                        coerced.append(repr(v) if "." in repr(v) else str(v))
                    else:
                        coerced.append(str(v))
                elif t == "datetime":
                    coerced.append(parse_datetime(v))
                elif t == "uuid":
                    coerced.append(_canon_uuid(str(v)))
                else:
                    raise ConfigError(f"unsupported type {t!r}")
            except (ValueError, TypeError) as e:
                raise ConfigError(f"cannot convert {v!r} to {t}: {e}") from e
        nulls = [v for v in coerced if v is None]
        rest = sorted(v for v in coerced if v is not None)
        self.values = nulls + rest


def _canon_uuid(s: str) -> str:
    import uuid as _uuid

    return str(_uuid.UUID(s))


@dataclass
class PartitionColumnSpec:
    name: str = ""
    write_to_output: bool = False

    def validate(self) -> list[str]:
        return [] if self.name else ["name for partition column is required"]


@dataclass
class ColumnSpec:
    name: str = ""
    type: str = ""
    ranges: list[ParamsSpec] = field(default_factory=list)
    foreign_key: str = ""
    foreign_key_order: bool = False
    parquet: ParquetParams | None = None
    # resolved by GenerationConfig.parse():
    fk_model: str = ""
    fk_column: str = ""

    def fill_defaults(self) -> None:
        total = 0.0
        without = 0
        for r in self.ranges:
            r.fill_defaults()
            if r.range_percentage > 0:
                total += r.range_percentage
            else:
                without += 1
        if without > 0:
            avg = (1 - total) / without
            for i, r in enumerate(self.ranges):
                if r.range_percentage == 0:
                    if i == len(self.ranges) - 1:
                        r.range_percentage = 1 - total
                    else:
                        r.range_percentage = avg
                        total += avg
        if self.parquet is not None:
            self.parquet.fill_defaults()

    def validate(self) -> list[str]:
        errs: list[str] = []
        if self.foreign_key:
            # FK columns carry only the 'ordered' draw flag (stashed in
            # ranges[0] by the parser); any real params are forbidden.
            if self.type or self.parquet is not None:
                errs.append("forbidden to use foreign key with any other params")
            return errs
        if self.type not in SUPPORTED_TYPES:
            errs.append(f"unknown type {self.type!r}")
            return errs
        total = 0.0
        for i, r in enumerate(self.ranges):
            rerrs = r.validate()
            if rerrs:
                errs.append(f"ranges[{i}]:")
                errs.extend(rerrs)
            total += r.range_percentage
        if abs(total - 1.0) > 1e-9:
            errs.append(f"sum of range percentages must be 1: got {total}")
        if self.type == "datetime":
            units = {
                getattr(r.type_params, "unit", "us")
                for r in self.ranges
                if r.type_params is not None
            }
            if len(units) > 1:
                errs.append(
                    "datetime ranges must share one unit (us|ns); "
                    f"got {sorted(units)}"
                )
        if self.parquet is not None:
            errs.extend(self.parquet.validate())
        return errs


@dataclass
class ModelSpec:
    name: str = ""
    rows_count: int = 0
    generate_from: int = 0
    generate_to: int | None = None
    rows_per_file: int = 0
    model_dir: str = ""
    columns: list[ColumnSpec] = field(default_factory=list)
    partition_columns: list[PartitionColumnSpec] = field(default_factory=list)

    def fill_defaults(self) -> None:
        if self.rows_per_file == 0:
            self.rows_per_file = self.rows_count
        if self.generate_to is None:
            self.generate_to = self.rows_count
        if not self.model_dir:
            self.model_dir = self.name
        for c in self.columns:
            c.fill_defaults()
        # partition columns with write_to_output=false move to the end so
        # hidden partition keys never reorder visible output columns
        hidden = [pc.name for pc in self.partition_columns if not pc.write_to_output]
        if hidden:
            keep = [c for c in self.columns if c.name not in hidden]
            tail = [c for c in self.columns if c.name in hidden]
            self.columns = keep + tail

    def validate(self) -> list[str]:
        errs: list[str] = []
        if self.rows_count <= 0:
            errs.append(f"rows_count must be > 0: {self.rows_count}")
        if self.generate_from > self.rows_count:
            errs.append(f"generate_from must be <= rows_count: {self.generate_from}")
        if self.generate_to is not None and self.generate_to > self.rows_count:
            errs.append(f"generate_to must be <= rows_count: {self.generate_to}")
        if self.generate_to is not None and self.generate_from > self.generate_to:
            errs.append(f"generate_from must be <= generate_to: {self.generate_from}")
        if self.rows_per_file < 0:
            errs.append(f"rows_per_file must be >= 0: {self.rows_per_file}")
        seen: set[str] = set()
        for c in self.columns:
            if c.name in seen:
                errs.append(f"duplicate column name {c.name!r}")
            seen.add(c.name)
            cerrs = c.validate()
            if cerrs:
                errs.append(f"columns[{c.name}]:")
                errs.extend(cerrs)
            elif c.type == "integer":
                # integer enum values are 32-bit: a wider literal would
                # wrap silently (and the DuckDB mirror rejects it)
                errs.extend(
                    f"{self.name}.{c.name}: integer enum literal {v} is outside "
                    f"int32 [{-(2**31)}, {2**31 - 1}]"
                    for r in c.ranges
                    for v in r.values or ()
                    if v is not None and not -(2**31) <= v < 2**31
                )
        for pc in self.partition_columns:
            if pc.name not in seen:
                errs.append(f"partition_columns[{pc.name}] does not exist")
            errs.extend(pc.validate())
        return errs

    def column(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)


# reference parquet codec names (models/generator_output.go) -> pyarrow's.
# pyarrow's "lz4" is the parquet format's LZ4_RAW: the Hadoop-framed
# LZ4 codec is deprecated and pyarrow cannot write it.
PARQUET_CODECS = {
    "uncompressed": "none", "none": "none", "snappy": "snappy", "gzip": "gzip",
    "zstd": "zstd", "brotli": "brotli", "lz4": "lz4", "lz4raw": "lz4", "lz4_raw": "lz4",
}


@dataclass
class OutputConfig:
    type: str = "devnull"
    dir: str = "output"
    # csv
    delimiter: str = ","
    without_headers: bool = False
    float_precision: int = 2
    datetime_format: str = ""  # "" -> RFC3339; "unix" -> epoch seconds
    # parquet
    compression: str = "snappy"
    timestamp_unit: str = "micros"  # millis | micros
    # sort rows within each output task before writing (parquet only):
    # tightens per-row-group min/max statistics so readers filtering on
    # these columns skip whole row groups — the cheap form of data
    # clustering at 100 TB (beyond-parity option; reference writer has
    # no ordering control)
    sort_by: list[str] = field(default_factory=list)
    # multi-dimensional clustering (parquet only): range-repartition +
    # sort on the Morton interleave of these columns' normalized bits,
    # so row-group min/max stats stay tight on EVERY listed column
    # (Delta/Iceberg OPTIMIZE ZORDER BY semantics). Costs one range
    # shuffle at write time — unlike sort_by, which is task-local.
    # Mutually exclusive with sort_by; numeric/datetime columns only.
    zorder_by: list[str] = field(default_factory=list)
    # file sinks: the most rows a crash loses (0 = no bound). A model is
    # one write job whose tasks commit and resume one by one, so this
    # raises the task count until no task holds more rows. The reference
    # ticks its {model}.checkpoint on a 5 s timer (model_writer.go:120-164).
    checkpoint_rows: int = 0
    # http / tcs
    endpoint: str = ""
    headers: dict[str, str] = field(default_factory=dict)
    batch_size: int = 1000
    # parsed but not read: each generation task is one sender
    workers_count: int = 1
    timeout_seconds: float = 60.0
    body_template: str = ""

    SUPPORTED = ("devnull", "csv", "parquet", "http", "tcs")

    def validate(self) -> list[str]:
        errs = []
        if self.type not in self.SUPPORTED:
            errs.append(f"unknown output type {self.type!r}")
        if self.type in ("http", "tcs") and not self.endpoint:
            errs.append(f"{self.type} output requires an endpoint")
        if self.timestamp_unit not in ("millis", "micros"):
            errs.append(f"timestamp_unit must be millis|micros: {self.timestamp_unit}")
        if len(self.delimiter) != 1:
            errs.append(f"delimiter must be one character: {self.delimiter!r}")
        if self.float_precision < 0:
            errs.append(f"float_precision must be >= 0: {self.float_precision}")
        if self.checkpoint_rows < 0:
            errs.append(f"checkpoint_rows must be >= 0: {self.checkpoint_rows}")
        if self.sort_by and self.type != "parquet":
            errs.append("sort_by is only supported for parquet output")
        if not isinstance(self.sort_by, list) or not all(
            isinstance(c, str) for c in self.sort_by
        ):
            errs.append("sort_by must be a list of column names")
        if self.zorder_by and self.type != "parquet":
            errs.append("zorder_by is only supported for parquet output")
        if not isinstance(self.zorder_by, list) or not all(
            isinstance(c, str) for c in self.zorder_by
        ):
            errs.append("zorder_by must be a list of column names")
        if self.zorder_by and self.sort_by:
            errs.append(
                "sort_by and zorder_by are mutually exclusive (one "
                "clustering order per output)"
            )
        if self.zorder_by and len(self.zorder_by) < 2:
            errs.append(
                "zorder_by needs >= 2 columns (use sort_by for a single key)"
            )
        if self.type == "parquet":
            codec = self.compression.lower()
            if codec == "lzo":
                errs.append(
                    "parquet codec 'lzo' is not available in this engine "
                    "(neither Spark nor pyarrow ships an LZO codec); use "
                    "lz4 or zstd"
                )
            elif codec not in PARQUET_CODECS:
                errs.append(f"unknown parquet codec {self.compression!r}")
        return errs


@dataclass
class GenerationConfig:
    random_seed: int = 0
    # True when the config omitted random_seed (or set 0): the stored
    # seed was derived from the wall clock at parse time.
    seed_autogenerated: bool = False
    workers_count: int = 0  # advisory; Spark manages parallelism
    batch_size: int = 0  # advisory; Arrow batch sizing
    output: OutputConfig = field(default_factory=OutputConfig)
    models: dict[str, ModelSpec] = field(default_factory=dict)
    models_to_ignore: list[str] = field(default_factory=list)
    # engine knob, not in the reference surface: permutation tier
    permutation: str = "auto"  # auto | lfsr | feistel

    def parse(self) -> None:
        for name, m in self.models.items():
            m.name = name
        self._resolve_foreign_keys()

    def fill_defaults(self) -> None:
        for m in self.models.values():
            m.fill_defaults()

    def validate(self) -> None:
        errs: list[str] = []
        if not self.models:
            errs.append("at least one model is required")
        errs.extend(self.output.validate())
        for name, m in self.models.items():
            merrs = m.validate()
            if merrs:
                errs.append(f"models[{name}]:")
                errs.extend(merrs)
        for ignored in self.models_to_ignore:
            if ignored not in self.models:
                errs.append(f"models_to_ignore[{ignored}] does not exist")
        if self.output.sort_by:
            # caught here (where models are in scope) rather than deep
            # inside the write job as an AnalysisException after
            # generation already ran
            for name, m in self.models.items():
                if name in self.models_to_ignore:
                    continue
                have = {c.name for c in m.columns}
                for col in self.output.sort_by:
                    if col not in have:
                        errs.append(
                            f"output.sort_by[{col}] does not exist in model {name}"
                        )
        if self.output.zorder_by:
            for name, m in self.models.items():
                if name in self.models_to_ignore:
                    continue
                cols = {c.name: c for c in m.columns}
                for col in self.output.zorder_by:
                    spec = cols.get(col)
                    if spec is None:
                        errs.append(
                            f"output.zorder_by[{col}] does not exist in model {name}"
                        )
                    elif not spec.foreign_key and spec.type not in (
                        "integer",
                        "float",
                        "datetime",
                    ):
                        errs.append(
                            f"output.zorder_by[{col}] must be numeric or "
                            f"datetime (got {spec.type!r} in model {name})"
                        )
        if self.permutation not in ("auto", "lfsr", "feistel"):
            errs.append(f"permutation must be auto|lfsr|feistel: {self.permutation}")
        if errs:
            raise ConfigError("; ".join(errs))

    def _resolve_foreign_keys(self) -> None:
        for mname, m in self.models.items():
            for c in m.columns:
                if not c.foreign_key:
                    continue
                if "." not in c.foreign_key:
                    raise ConfigError(
                        f"models[{mname}].columns[{c.name}]: foreign_key must be "
                        f"'model.column', got {c.foreign_key!r}"
                    )
                fk_model, fk_col = c.foreign_key.split(".", 1)
                target_model = self.models.get(fk_model)
                if target_model is None:
                    raise ConfigError(f"foreign key target model {fk_model!r} not found")
                try:
                    target = target_model.column(fk_col)
                except KeyError:
                    raise ConfigError(
                        f"foreign key target column {c.foreign_key!r} not found"
                    ) from None
                if target.foreign_key:
                    raise ConfigError(
                        f"foreign key {c.foreign_key!r} points at another foreign key"
                    )
                c.fk_model, c.fk_column = fk_model, fk_col

    def data_source(self, model: ModelSpec, column: ColumnSpec) -> tuple[ModelSpec, ColumnSpec]:
        """The (model, column) whose value space a column draws from —
        itself, or the FK target."""
        if column.foreign_key:
            return self.models[column.fk_model], self.models[column.fk_model].column(
                column.fk_column
            )
        return model, column


# ---------------------------------------------------------------------------
# raw-dict / file ingestion


def _parse_column(raw: dict[str, Any]) -> ColumnSpec:
    col = ColumnSpec(
        name=str(raw.get("name", "")),
        type=str(raw.get("type", "")).lower(),
        foreign_key=str(raw.get("foreign_key", "")),
        foreign_key_order=bool(raw.get("foreign_key_order", False)),
    )
    if "parquet" in raw and raw["parquet"] is not None:
        col.parquet = ParquetParams(encoding=str(raw["parquet"].get("encoding", "")))

    inline_keys = (
        "type_params", "values", "null_percentage", "distinct_percentage",
        "distinct_count", "range_percentage", "ordered",
    )
    has_inline = any(k in raw for k in inline_keys)
    has_ranges = raw.get("ranges") is not None

    if col.foreign_key:
        if col.type or has_ranges or (has_inline and any(raw.get(k) for k in inline_keys)):
            # keep the 'ordered' inline flag: it controls FK draw order
            pass
        col.ranges = []
        # FK columns keep only the 'ordered' flag from inline params
        fk_params = ParamsSpec(ordered=bool(raw.get("ordered", False)))
        col.ranges = [fk_params]
        return col

    if has_inline and has_ranges:
        raise ConfigError(
            f"columns[{col.name}]: forbidden to set both inline params and ranges"
        )

    raw_ranges = raw.get("ranges") if has_ranges else [raw]
    for rr in raw_ranges or [{}]:
        p = ParamsSpec(
            column_type=col.type,
            values=list(rr["values"]) if rr.get("values") is not None else None,
            null_percentage=float(rr.get("null_percentage", 0.0)),
            distinct_percentage=float(rr.get("distinct_percentage", 0.0)),
            distinct_count=int(rr.get("distinct_count", 0)),
            range_percentage=float(rr.get("range_percentage", 0.0)),
            ordered=bool(rr.get("ordered", False)),
        )
        p.parse(rr.get("type_params"))
        col.ranges.append(p)
    return col


def parse_config(raw: dict[str, Any]) -> GenerationConfig:
    """Build + run the full parse/fill_defaults/validate pipeline from a
    raw dict (decoded YAML/JSON)."""
    out_raw = raw.get("output") or {}
    output = OutputConfig(
        type=str(out_raw.get("type", "devnull")).lower(),
        dir=str(out_raw.get("dir", "output")),
    )
    # writer options live under output.params (reference layout,
    # generator_output.go) but are also accepted at the top level;
    # unknown keys are ignored
    defaults = {f.name: getattr(output, f.name) for f in fields(OutputConfig)}
    for src in (out_raw, out_raw.get("params") or {}):
        for k, v in src.items():
            if k in ("type", "dir") or k not in defaults:
                continue
            want = type(defaults[k])
            if not (type(v) is want or (want is float and type(v) is int)):
                raise ConfigError(f"output.{k} must be {want.__name__}, got {v!r}")
            setattr(output, k, v)

    seed = int(raw.get("random_seed", 0))
    seed_auto = seed == 0
    if seed_auto:
        # Reference semantics: seed 0 means "seed from the wall clock"
        # (an unseeded config must NOT produce identical data every
        # run). The resolved seed is recorded in backup.json so
        # --continue-generation resumes with the SAME data stream.
        import time

        seed = time.time_ns() & ((1 << 64) - 1) or 1
    cfg = GenerationConfig(
        random_seed=seed,
        workers_count=int(raw.get("workers_count", 0)),
        batch_size=int(raw.get("batch_size", 0)),
        output=output,
        models_to_ignore=list(raw.get("models_to_ignore", []) or []),
        permutation=str(raw.get("permutation", "auto")),
    )
    cfg.seed_autogenerated = seed_auto
    for mname, mraw in (raw.get("models") or {}).items():
        model = ModelSpec(
            name=mname,
            rows_count=int(mraw.get("rows_count", 0)),
            generate_from=int(mraw.get("generate_from", 0)),
            generate_to=None if mraw.get("generate_to") is None else int(mraw["generate_to"]),
            rows_per_file=int(mraw.get("rows_per_file", 0)),
            model_dir=str(mraw.get("model_dir", "")),
        )
        for craw in mraw.get("columns") or []:
            model.columns.append(_parse_column(craw))
        for praw in mraw.get("partition_columns") or []:
            model.partition_columns.append(
                PartitionColumnSpec(
                    name=str(praw.get("name", "")),
                    write_to_output=bool(praw.get("write_to_output", False)),
                )
            )
        cfg.models[mname] = model

    cfg.parse()
    cfg.fill_defaults()
    cfg.validate()
    return cfg


def load_raw_config(path: str) -> dict[str, Any]:
    """Load a YAML or JSON config file into its raw dict form."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if path.endswith(".json"):
        return json.loads(text)
    try:
        import yaml

        return yaml.safe_load(text)
    except ImportError:  # pragma: no cover
        return json.loads(text)


def load_config(path: str) -> GenerationConfig:
    """Load a YAML or JSON generation config from disk."""
    return parse_config(load_raw_config(path))
