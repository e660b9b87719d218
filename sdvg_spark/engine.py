"""The engine: a validated config becomes one DataFrame per model.

Execution model (Spark-first; see SURVEY.md §7): every cell is a pure
function of (seed, model, column, row id). Nothing here shuffles — the
sequencer pipeline (permute -> range dispatch -> draw number -> jitter ->
null gate -> value) needs nothing but the id, so generation is
embarrassingly parallel and idempotent under any partitioning. A model
is ``spark.range(0, P, 1, P).mapInArrow(...)``: one descriptor row per
task, and task ``t`` makes the ids of Range's split ``t`` of
``[generate_from, generate_to)`` itself with ``np.arange``. No id column
crosses from the JVM to Python and nothing is joined back: each Arrow
batch returns holding every column of the model. At 100 TB this means:
no stage boundaries, no skew, one task per split.

One evaluator (``_make_evaluator``) turns a batch of ids into the final
Arrow array of every column (numpy kernels over Arrow buffers, no
pandas): the seeded permutation, range dispatch, jitter, null gate and
value generator in one pass, strings written as UTF-8 bytes straight
into Arrow buffers. Every model runs it, closed-form columns (one
ordered range, no jitter, no null gate) included: each generator has
one execution form. Streaming (``apply_columns``) maps the same
evaluator over a source's ``id``. Catalyst cannot prune the map's
outputs: selecting some columns of a model, or counting it, still
computes every column (sinks write whole models). A sink that needs no
values in the JVM passes a ``TaskConsumer``: its function runs in the
generating task over that task's value batches, and the task returns
what it yields (devnull: one row count; HTTP/TCS: the rows and requests
it posted; ``sinks/writers.task_consumer`` picks it).

Foreign keys re-evaluate the *parent's* pure expression on the child's
row-ids (the reference's zero-shuffle trick, task.go:86-114): referential
integrity without materializing or joining the parent.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Collection, Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from sdvg_spark.config.model import ColumnSpec, ConfigError, GenerationConfig, ModelSpec
from sdvg_spark.core.rng import derive_seed, frf_np
from sdvg_spark.core.sequence import LFSR_TABLE_CAP, ordered_np, perm_np
from sdvg_spark.core.sequence import range_perm_mode, resolve_mode
from sdvg_spark.generators.values import arrow_type, make_value_gen
from sdvg_spark.session import configure_session


@dataclass
class RangePlan:
    """Physical plan for one generation range of a column."""

    index: int
    off: int  # first generator-number of this range's block
    cnt: int  # block size == sequencer cycle length
    distinct: int
    ordered: bool
    order_seed: int
    factor: float  # jitter scale: 1 - distinct/|value space|
    null_pct: float
    vgen: object


@dataclass
class ColumnPlan:
    """Physical plan for one column: sequencer tier + range plans."""

    name: str
    column_type: str
    rows: int  # column-sequencer domain/cycle (child rows for FK)
    data_seed: int  # seed of the column whose value space we draw from
    perm_mode: str
    ranges: list[RangePlan]
    dtype: str  # final Spark type (widest across ranges)

    @property
    def all_ordered_single(self) -> bool:
        return len(self.ranges) == 1 and self.ranges[0].ordered

    @property
    def pure_native(self) -> bool:
        """Closed-form: a single ordered range, no jitter (factor 0) and
        no null gate, so the column is its value generator over the
        ordered draw of id and the evaluator needs no frf draw."""
        if not self.all_ordered_single:
            return False
        r = self.ranges[0]
        return r.factor == 0.0 and r.null_pct == 0.0


def plan_column(cfg: GenerationConfig, model: ModelSpec, column: ColumnSpec) -> ColumnPlan:
    """Resolve a column (following FK indirection) into a physical plan.

    Mirrors the reference's generator wiring (generator/generator.go:
    30-151): FK columns reuse the parent's seed and value space; distinct
    counts derive from the *data* model's row count; ranges get
    contiguous blocks of ceil(rows * pct) generator numbers.
    """
    data_model, data_column = cfg.data_source(model, column)
    base_seed = cfg.random_seed
    col_seed = derive_seed(base_seed, f"{model.name}.{column.name}")
    data_seed = derive_seed(base_seed, f"{data_model.name}.{data_column.name}")

    is_fk = bool(column.foreign_key)
    rows = data_model.rows_count
    if is_fk and not column.foreign_key_order:
        rows = model.rows_count

    plans: list[RangePlan] = []
    off = 0
    for i, r in enumerate(data_column.ranges):
        cnt = math.ceil(rows * r.range_percentage)
        vgen = make_value_gen(data_column.type, r)
        distinct = math.ceil(data_model.rows_count * r.range_percentage)
        if r.distinct_percentage:
            distinct = math.ceil(distinct * r.distinct_percentage)
        if r.distinct_count:
            if r.distinct_count > distinct:
                raise ConfigError(
                    f"{model.name}.{column.name}: impossible to generate "
                    f"{r.distinct_count} distinct values in {distinct} rows"
                )
            distinct = r.distinct_count
        space = vgen.values_count()
        if float(distinct) > space:
            if r.distinct_percentage or r.distinct_count:
                raise ConfigError(
                    f"{model.name}.{column.name}: impossible to generate "
                    f"{distinct} distinct values"
                )
            distinct = int(space)
        distinct = max(distinct, 1)

        ordered = r.ordered
        order_seed = data_seed
        if is_fk and not column.foreign_key_order:
            ordered = column.ranges[0].ordered if column.ranges else False
            order_seed = col_seed

        vgen.set_total(distinct)
        factor = 1.0 - (float(distinct) / space if math.isfinite(space) else 0.0)
        plans.append(
            RangePlan(
                index=i,
                off=off,
                cnt=cnt,
                distinct=distinct,
                ordered=ordered,
                order_seed=order_seed,
                factor=factor,
                null_pct=r.null_percentage,
                vgen=vgen,
            )
        )
        off += cnt

    plan = ColumnPlan(
        name=column.name,
        column_type=data_column.type,
        rows=rows,
        data_seed=data_seed,
        perm_mode=resolve_mode(rows, cfg.permutation),
        ranges=plans,
        dtype=_column_dtype(data_column, plans),
    )
    if plan.perm_mode == "lfsr" and not plan.all_ordered_single and rows > LFSR_TABLE_CAP:
        raise ConfigError(
            f"{model.name}.{column.name}: permutation lfsr is capped at "
            f"{LFSR_TABLE_CAP} rows ({rows} asked); use feistel or auto"
        )
    return plan


def _column_dtype(data_column: ColumnSpec, plans: list[RangePlan]) -> str:
    """Widest Spark type across ranges (the reference writer uses the max
    bit width, parquet.go:120-250)."""
    t = data_column.type
    if t == "integer":
        width = 8
        for r in data_column.ranges:
            if r.type_params is not None:
                width = max(width, r.type_params.bit_width)
            else:
                width = max(width, 32)  # enum range in an integer column
        return {8: "tinyint", 16: "smallint", 32: "int", 64: "bigint"}[width]
    if t == "float":
        width = 32
        for r in data_column.ranges:
            if r.type_params is not None:
                width = max(width, r.type_params.bit_width)
        return "float" if width == 32 else "double"
    if t == "datetime":
        units = {
            getattr(r.type_params, "unit", "us")
            for r in data_column.ranges
            if r.type_params is not None
        }
        return "bigint" if units == {"ns"} else "timestamp"
    return "string"  # string / uuid


# ---------------------------------------------------------------------------
# the model evaluator (the only Python stage of the pipeline)


def _make_sequencer(plan: ColumnPlan):
    """Closure: uint64 id array -> one ``(rows, num)`` pair per range:
    the positions of the batch rows the range owns (None for a
    single-range column: every row) and their draw numbers.

    One vectorized pass computes the column-level permutation, the
    range dispatch and the per-range draw number. The dispatch is a sum
    of compares against the inner range bounds, and each range's row
    partition is taken once and serves both its draw and its values.
    Both tiers draw through ``perm_np``: each worker builds the LFSR
    tables it reads, once (``lfsr_walk``'s LRU); a range over the cap
    draws from feistel (``range_perm_mode``).

    Accepted deviation (multi-range columns only): the per-range draw
    is derived from the permuted generator number (k = gnum - off), not
    from the reference's stateful hit-count pull order — same value
    multiset and multiplicities, permuted row order; ``ordered`` ranges
    inside multi-range columns are monotone per block. A row-order-
    exact replay would need a global hit rank (shuffle) and break pure
    f(id). See SURVEY §7.
    """
    rows = plan.rows
    data_seed = plan.data_seed
    mode = plan.perm_mode
    ranges = plan.ranges
    first = ranges[0]
    # dispatch boundaries between ranges (exclusive ends of all but the
    # last block; gnum < rows <= the last end)
    inner = np.cumsum([r.cnt for r in ranges], dtype=np.uint64)[:-1]
    ridx_dtype = np.min_scalar_type(len(ranges))

    def range_draw(r: RangePlan, k: np.ndarray) -> np.ndarray:
        if r.ordered:
            return ordered_np(k, r.distinct, r.cnt)
        return perm_np(k, r.distinct, int(r.order_seed), range_perm_mode(mode, r.distinct))

    def draw(idx: np.ndarray) -> list[tuple[np.ndarray | None, np.ndarray]]:
        if plan.all_ordered_single:
            return [(None, ordered_np(idx, first.distinct, first.cnt))]
        gnum = perm_np(idx, rows, data_seed, mode)
        if not len(inner):
            # one range at offset 0: the dispatch is the identity
            # (every row, k == gnum)
            return [(None, range_draw(first, gnum))]
        ridx = np.zeros(len(gnum), dtype=ridx_dtype)
        for b in inner:
            ridx += gnum >= b
        parts = []
        for r in ranges:
            at = np.flatnonzero(ridx == r.index)
            parts.append((at, range_draw(r, gnum[at] - np.uint64(r.off))))
        return parts

    return draw


def _null_gated(values: pa.Array, gate: np.ndarray | None) -> pa.Array:
    """``values`` with the rows where ``gate`` is True set to null: a
    new validity bitmap over the same value buffers."""
    if gate is None or not gate.any():
        return values
    valid = ~gate
    if values.null_count:
        valid &= values.is_valid().to_numpy(zero_copy_only=False)
    if values.offset:
        valid = np.concatenate([np.zeros(values.offset, dtype=bool), valid])
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little"))
    return pa.Array.from_buffers(
        values.type, len(values), [bitmap, *values.buffers()[1:]], offset=values.offset
    )


def _range_values(r: RangePlan, num: np.ndarray, data_seed: int, atype: pa.DataType) -> pa.Array:
    """One range's final values: jitter, value generator, the column's
    Arrow type and the null gate. ``r01`` = frf(data_seed + num) drives
    both the jitter and the gate (reference generator.go:220-237 uses
    the same hash draw for both); a range with neither (factor 0, no
    null share: a closed-form column, an enum, a small integer range)
    computes no draw. A zero factor adds exactly 0.0 to a non-negative
    number, so that jitter is skipped."""
    number = num.astype(np.float64)
    gate = None
    if r.factor or r.null_pct > 0:
        r01 = frf_np(num + np.uint64(data_seed))
        if r.null_pct > 0:
            gate = r01 < r.null_pct
        if r.factor:
            r01 *= r.factor
            number += r01
    values = r.vgen.np_value(number)
    if values.type != atype:
        values = values.cast(atype)  # a narrower range widens
    return _null_gated(values, gate)


def _make_column(plan: ColumnPlan) -> Callable[[np.ndarray], pa.Array]:
    """int64 ids -> the column's final Arrow array.

    Sequencer, jitter, null gate and value run in one numpy pass. A
    multi-range column concatenates its ranges' values and takes them
    back into row order. A :attr:`ColumnPlan.pure_native` column is its
    ordered draw and value form: its factor and null share are both 0,
    so it computes no frf draw.
    """
    ranges = plan.ranges
    atype = arrow_type(plan.dtype)
    draw = _make_sequencer(plan)

    def column(ids: np.ndarray) -> pa.Array:
        parts = draw(ids.view(np.uint64))
        values = [_range_values(r, num, plan.data_seed, atype) for r, (_, num) in zip(ranges, parts)]
        if len(values) == 1:
            return values[0]
        # each row's position in the range-ordered concatenation
        pos = np.empty(len(ids), dtype=np.int64)
        pos[np.concatenate([at for at, _ in parts])] = np.arange(len(ids))
        return pa.concat_arrays(values).take(pos)

    return column


def _make_evaluator(plans: list[ColumnPlan]) -> Callable[[np.ndarray], list[pa.Array]]:
    """int64 ids -> one final Arrow array per plan, in plan order."""
    columns = [_make_column(plan) for plan in plans]

    def evaluate(ids: np.ndarray) -> list[pa.Array]:
        return [column(ids) for column in columns]

    return evaluate


def _fields(plans: list[ColumnPlan]) -> list[T.StructField]:
    return [T.StructField(plan.name, from_arrow_type(arrow_type(plan.dtype))) for plan in plans]


def task_range(lo: int, hi: int, num_tasks: int, t: int) -> range:
    """The ids task ``t`` of ``num_tasks`` makes (``Engine._generate``)."""
    return range(lo + (hi - lo) * t // num_tasks, lo + (hi - lo) * (t + 1) // num_tasks)


class TaskConsumer(NamedTuple):
    """What a generation task does with its value batches instead of
    returning them: ``fn`` takes the task's iterator of batches and
    yields the task's output batches, of Spark schema ``schema``. It
    runs in the generating task, so a retried task runs it again over
    the same values (an HTTP/TCS sink posts them again)."""

    fn: Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]
    schema: T.StructType


class Engine:
    """Config -> DataFrames; ``jobs.run_generate`` writes them to sinks."""

    def __init__(self, cfg: GenerationConfig):
        self.cfg = cfg

    def plans_for(self, model: ModelSpec) -> list[ColumnPlan]:
        return [plan_column(self.cfg, model, c) for c in model.columns]

    def model_df(
        self,
        spark: SparkSession,
        model_name: str,
        generate_from: int | None = None,
        generate_to: int | None = None,
        num_partitions: int | None = None,
        keep_id: bool = False,
        consumer: TaskConsumer | None = None,
        tasks: Collection[int] | None = None,
    ) -> DataFrame:
        """Rows ``[generate_from, generate_to)`` of a model; with a
        ``consumer``, what its tasks make of those rows instead; with
        ``tasks``, only those tasks make theirs (the others stay empty)."""
        configure_session(spark)
        model = self.cfg.models[model_name]
        lo = model.generate_from if generate_from is None else generate_from
        hi = model.generate_to if generate_to is None else generate_to
        return self._generate(
            spark, self.plans_for(model), lo, hi, num_partitions, keep_id, consumer, tasks
        )

    def apply_columns(
        self,
        base: DataFrame,
        plans: list[ColumnPlan],
        keep_id: bool = False,
        extra_cols: list[str] | None = None,
    ) -> DataFrame:
        """Evaluate column plans over ANY DataFrame with an ``id`` column
        (a streaming rate source, say — generation is a pure function of
        the row index either way): ``extra_cols`` pass through first,
        then ``id`` when ``keep_id`` is set, then the columns. One
        ``mapInArrow`` evaluates every column of a batch."""
        extra = list(extra_cols or [])
        passed = extra + (["id"] if keep_id else [])
        evaluate = _make_evaluator(plans)
        schema = T.StructType([base.schema[c] for c in passed] + _fields(plans))
        names = schema.names

        def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for b in batches:
                cols = evaluate(b.column("id").to_numpy())
                yield pa.RecordBatch.from_arrays([*map(b.column, passed), *cols], names=names)

        return base.select(*extra, "id").mapInArrow(task, schema)

    def _generate(
        self,
        spark: SparkSession,
        plans: list[ColumnPlan],
        lo: int,
        hi: int,
        num_partitions: int | None,
        keep_id: bool,
        consumer: TaskConsumer | None = None,
        tasks: Collection[int] | None = None,
    ) -> DataFrame:
        """Rows ``[lo, hi)`` of ``plans``, each task making its own ids.

        Task ``t`` of ``P`` owns Range's split ``[lo + n*t // P,
        lo + n*(t+1) // P)`` (``task_range``), so every partition holds
        the ids of ``spark.range(lo, hi, 1, P)``; only ``t`` crosses from
        the JVM, and only for ``tasks`` if given. Its ids come from ``np.arange`` in batches of
        ``spark.sql.execution.arrow.maxRecordsPerBatch``, and each batch
        becomes one Arrow batch of every column: the task returns those
        batches, or hands them to ``consumer.fn`` and returns what that
        yields.
        """
        num_tasks = num_partitions or spark.sparkContext.defaultParallelism
        n = max(hi - lo, 0)
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        if batch <= 0:  # Spark's "no limit"
            batch = max(n, 1)
        evaluate = _make_evaluator(plans)
        id_field = [T.StructField("id", T.LongType(), nullable=False)] if keep_id else []
        schema = T.StructType(id_field + _fields(plans))
        names = schema.names

        def batches(t: int) -> Iterator[pa.RecordBatch]:
            first, last = lo + n * t // num_tasks, lo + n * (t + 1) // num_tasks
            for start in range(first, last, batch):
                ids = np.arange(start, min(start + batch, last), dtype=np.int64)
                cols = evaluate(ids)
                if keep_id:
                    cols = [pa.array(ids), *cols]
                yield pa.RecordBatch.from_arrays(cols, names=names)

        def task(descriptors: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for d in descriptors:
                for t in d.column(0).to_pylist():
                    yield from consumer.fn(batches(t)) if consumer else batches(t)

        out_schema = consumer.schema if consumer else schema
        descriptors = spark.range(0, num_tasks, 1, num_tasks)
        if tasks is not None:  # partition t keeps descriptor t
            descriptors = descriptors.where(F.col("id").isin(sorted(tasks)))
        return descriptors.mapInArrow(task, out_schema)

    def model_df_with_id(self, spark: SparkSession, model_name: str, **kw) -> DataFrame:
        """model_df plus the raw row-id column (oracle comparisons)."""
        return self.model_df(spark, model_name, keep_id=True, **kw)

    def column_df(
        self,
        spark: SparkSession,
        model_name: str,
        column_name: str,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """(id, <column>) for exactly one column — avoids planning the
        whole model (oracle checks are per-column)."""
        configure_session(spark)
        model = self.cfg.models[model_name]
        plan = plan_column(self.cfg, model, model.column(column_name))
        return self._generate(
            spark, [plan], model.generate_from, model.generate_to, num_partitions, keep_id=True
        )
