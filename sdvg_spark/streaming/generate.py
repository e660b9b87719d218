"""Streaming synthetic data: the batch engine's column evaluator mapped
over a Structured Streaming source's row ids.

The reference engine is batch-only (its HTTP "streaming" sink is
micro-batched POSTs, SURVEY.md §1.3); this module is the beyond-parity
streaming surface. Because every generated cell is a pure function of
(seed, column, row-index), the SAME evaluator (``Engine.apply_columns``)
runs over a ``rate`` source's monotonically increasing ``value`` — each
micro-batch materializes the next slice of the identical deterministic
dataset a batch run would produce. Use cases: sink load-testing, live demo feeds,
replayable event streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdvg_spark.config.model import GenerationConfig
from sdvg_spark.engine import Engine
from sdvg_spark.session import configure_session


def stream_model(
    spark: SparkSession,
    cfg: GenerationConfig,
    model_name: str,
    rows_per_second: int = 1000,
    num_partitions: int | None = None,
    include_event_time: bool = True,
) -> DataFrame:
    """Streaming DataFrame generating ``model_name`` rows continuously.

    Row index = rate-source ``value`` offset by the model's
    ``generate_from``; values are identical to the batch engine's rows
    at the same indices (idempotence property carries over). The rate
    source wraps at ``generate_to`` via modulo so an unbounded stream
    cycles through the model's row space.
    """
    configure_session(spark)
    model = cfg.models[model_name]
    eng = Engine(cfg)
    plans = eng.plans_for(model)

    reader = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second)
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    rate = reader.load()

    lo, hi = model.generate_from, model.generate_to
    span = max(hi - lo, 1)
    base = rate.select(
        (F.lit(lo) + F.pmod(F.col("value"), F.lit(span))).alias("id"),
        F.col("timestamp").alias("event_time"),
    )
    extra = ["event_time"] if include_event_time else None
    if not include_event_time:
        base = base.select("id")
    return eng.apply_columns(base, plans, extra_cols=extra)
