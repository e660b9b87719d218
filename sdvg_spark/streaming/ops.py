"""Streaming operators: watermarked windowed aggregation, session
windows, streaming deduplication.

All three are expressed with built-in Structured Streaming operators
(window / session_window / dropDuplicates under a watermark) so state
management, late-data handling, and recovery come from Spark's state
store — no custom stateful code in the hot path. Each works identically
on batch DataFrames (Spark's unified semantics), which is how the test
suite pins the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _shuffle_first(df: DataFrame, keys: list[str] | None) -> DataFrame:
    """Repartition on the grouping keys BEFORE a near-raw-cardinality
    windowed/session aggregate (batch-mode scale knob).

    With (key, window) group cardinality close to the row count, the
    default plan's MAP-side partial aggregate collapses almost nothing
    — its hash map fills with the task's whole group set and falls back
    to sort-spill (r9 sf100 probe: ~12.3 GB memory spill each for the
    hourly and session rows over 100M events). Pre-partitioning on the
    keys satisfies the aggregate's clustered-distribution requirement
    (HashPartitioning(keys) ⊆ the (window, keys) clustering), so the
    partial+final pair runs in ONE post-shuffle stage where every key's
    rows are co-located and collapse in a single pass over
    output/partitions groups per task. The exchange moves raw projected
    rows instead of barely-reduced partials — about the same bytes when
    partials don't reduce, minus the spill.
    """
    if not keys:
        return df
    return df.repartition(*[F.col(k) for k in keys])


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict[str, Column],
    *,
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark: str | None = None,
    shuffle_first: bool = False,
) -> DataFrame:
    """Tumbling (or sliding, with ``slide``) event-time windows.

    ``aggs`` maps output name -> aggregate Column. ``watermark`` (e.g.
    "10 minutes") bounds state and admits that much event-time lateness;
    required for append-mode streaming sinks. ``shuffle_first`` (batch
    scale knob, see :func:`_shuffle_first`) repartitions on ``keys``
    before grouping — same values, spill-free when (key, window)
    cardinality is near the row count.
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    if shuffle_first:
        df = _shuffle_first(df, keys)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    group = [win, *[F.col(k) for k in (keys or [])]]
    out = df.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(k) for k in (keys or [])],
        *[F.col(n) for n in aggs],
    )


def sessionize_stream(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, Column],
    *,
    keys: list[str] | None = None,
    watermark: str | None = None,
    shuffle_first: bool = False,
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per key (the streaming form of the batch sessionize
    query — ``session_window`` keeps merge/expiry in Spark's state
    store instead of a custom applyInPandasWithState operator).
    ``shuffle_first`` (batch scale knob, see :func:`_shuffle_first`)
    repartitions on ``keys`` so session merge runs once post-shuffle.
    """
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    if shuffle_first:
        df = _shuffle_first(df, keys)
    win = F.session_window(F.col(ts_col), gap)
    group = [win, *[F.col(k) for k in (keys or [])]]
    out = df.groupBy(*group).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[F.col(k) for k in (keys or [])],
        *[F.col(n) for n in aggs],
    )


def stream_dedup(
    df: DataFrame,
    cols: list[str],
    *,
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup on ``cols``.

    With a watermark the dedup state is bounded (duplicates arriving
    later than the watermark are not suppressed — the documented
    trade-off); without one, state grows unboundedly (only for finite
    streams). ``dropDuplicatesWithinWatermark`` semantics via the
    standard dropDuplicates-under-watermark pattern.
    """
    if watermark and ts_col:
        df = df.withWatermark(ts_col, watermark)
        return df.dropDuplicatesWithinWatermark(cols)
    return df.dropDuplicates(cols)


def stream_running_totals(
    df: DataFrame,
    key_col: str,
    value_col: str,
    *,
    state_timeout_ms: int = 0,
) -> DataFrame:
    """Custom stateful operator: per-key running sum/count across
    micro-batches via ``applyInPandasWithState``.

    This is the engine's template for operators the built-in streaming
    surface can't express (cross-batch accumulators, custom expiry):
    state is one (sum, count) pair per key in Spark's state store —
    bytes per key, not rows — so it scales to any key cardinality the
    cluster's state store holds. Emits one updated row per key per
    micro-batch. ``state_timeout_ms`` > 0 expires idle keys
    (processing-time timeout) and emits nothing for them.

    The accumulator is an EXACT integer in micro-units (``round(v·1e6)``
    per element, the same arithmetic as the batch queries'
    ``_value_micros``): double accumulation across micro-batches would
    make the running total depend on batch arrival order, the exact
    order-dependence the batch side engineered away. Long sums are
    associative, so the final total is identical to the batch GROUP BY
    no matter how rows split into micro-batches. Rounding is
    half-away-from-zero on the exact double (trunc + fraction compare —
    numpy's round() is banker's and would diverge from Spark/DuckDB).

    Input must be a streaming DataFrame; on batch DataFrames use a
    plain ``groupBy`` (the batch arithmetic this reproduces).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        micros, count = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            micros += _micros_of(vals)
            count += int(vals.count())
        state.update((micros, count))
        if state_timeout_ms > 0:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "total": [micros / 1e6],
                "total_micros": [micros],
                "count": [count],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    key_dtype = dict(df.dtypes)[key_col]
    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} {key_dtype}, total double, total_micros long, count long",
        stateStructType="total_micros long, count long",
        outputMode="update",
        timeoutConf=timeout,
    )


def _micros_of(values) -> int:
    """Exact micro-unit sum of a pandas Series of doubles: round-half-
    away-from-zero on the exact double per element (numpy round() is
    banker's and would diverge from Spark/DuckDB ``round()``)."""
    import numpy as np

    if not len(values):
        return 0
    scaled = values.to_numpy(dtype=np.float64) * 1e6
    whole = np.trunc(scaled)
    frac = scaled - whole
    m = whole + np.where(np.abs(frac) >= 0.5, np.copysign(1.0, scaled), 0.0)
    return int(m.astype(np.int64).sum())


def _funnel_replay(t, pdf, ts_col, type_col, first_index, fi, w_us):
    """Replay one micro-batch's rows for one user through the greedy
    funnel update (semantics == the batch fold, see
    ops/analytics.py:funnel)."""
    sub = pdf[[ts_col, type_col]].dropna(subset=[ts_col])
    idx = sub[type_col].map(first_index)
    sub = sub.assign(__i=idx).dropna(subset=["__i"])
    if sub.empty:
        return t
    us = sub[ts_col].values.astype("datetime64[us]").astype("int64")
    iv = sub["__i"].astype(int).tolist()
    for r in sorted(range(len(us)), key=lambda r: (us[r], iv[r])):
        e_us, e_i = int(us[r]), iv[r]
        for k in range(len(t)):
            if t[k] != -1 or fi[k] != e_i:
                continue
            if k > 0 and (
                t[k - 1] == -1
                or e_us < t[k - 1]
                or (w_us is not None and e_us > t[0] + w_us)
            ):
                continue
            t[k] = e_us
    return t


def stream_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    *,
    within_seconds: int | None = None,
    state_timeout_ms: int = 0,
) -> DataFrame:
    """Streaming twin of ``ops/analytics.py:funnel``: a per-user funnel
    state machine via ``applyInPandasWithState``.

    State is K epoch-µs step timestamps per user (-1 = not reached —
    a fixed-width long row in Spark's state store, bytes per user, any
    cardinality). Each micro-batch's rows are sorted by
    (ts, step-index) and replayed through the SAME greedy update as
    the batch fold — including its tie rule and the sequential
    within-event update that lets one event satisfy consecutive
    duplicate-type steps — so when each user's events arrive
    event-time-ordered ACROSS micro-batches (per-user in-order
    delivery, e.g. a Kafka topic keyed by user), the final emitted row
    per user is IDENTICAL to the batch funnel of the concatenated
    input; pytest asserts it. Out-of-order arrival across batches
    degrades gracefully: a step already locked at its first qualifying
    seen event stays locked (the streaming-analytics convention —
    reprocess in batch for exact backfills).

    Emits one updated (user, step_1_ts..step_K_ts, depth) row per
    entered user per micro-batch (update mode — latest row per user
    wins). ``state_timeout_ms`` > 0 expires idle users' state.
    """
    if len(steps) < 2:
        raise ValueError(f"stream_funnel needs >= 2 steps, got {steps!r}")
    if within_seconds is not None and within_seconds < 1:
        raise ValueError(f"within_seconds must be >= 1, got {within_seconds}")
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k_n = len(steps)
    fi = [steps.index(steps[k]) for k in range(k_n)]
    first_index = {}
    for pos, s in enumerate(steps):
        first_index.setdefault(s, pos)
    w_us = None if within_seconds is None else int(within_seconds) * 1_000_000

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        t = list(state.get) if state.exists else [-1] * k_n
        for pdf in pdfs:
            t = _funnel_replay(t, pdf, ts_col, type_col, first_index, fi, w_us)
        state.update(tuple(t))
        if state_timeout_ms > 0:
            state.setTimeoutDuration(state_timeout_ms)
        if t[0] == -1:
            return
        row = {user_col: [key[0]]}
        for k in range(k_n):
            row[f"step_{k + 1}_ts"] = [
                pd.Timestamp(t[k], unit="us") if t[k] != -1 else pd.NaT
            ]
        row["depth"] = [sum(1 for v in t if v != -1)]
        yield pd.DataFrame(row)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    key_dtype = dict(df.dtypes)[user_col]
    step_cols = ", ".join(f"step_{k + 1}_ts timestamp" for k in range(k_n))
    return df.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=f"{user_col} {key_dtype}, {step_cols}, depth int",
        stateStructType=", ".join(f"t{k} long" for k in range(k_n)),
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_funnel_replay(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    *,
    within_seconds: int | None = None,
    n_batches: int = 3,
    work_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Run :func:`stream_funnel` over ``df`` replayed as ``n_batches``
    event-time-ordered micro-batches and return the FINAL per-user rows
    as a batch DataFrame — the driver-checkable form of the streaming
    funnel.

    The replay cuts the input at global event-time quantiles, writes one
    parquet file per slice, and streams them with
    ``maxFilesPerTrigger=1`` + ``availableNow`` into a memory sink —
    every user's events then arrive in event-time order ACROSS
    micro-batches, the delivery contract under which
    :func:`stream_funnel`'s final row per user is exactly the batch
    funnel of the concatenated input (``ops/analytics.py:funnel``), so
    the batch funnel's oracle SQL checks this operator too. Depth is
    monotone per user across emitted rows and rows of equal depth are
    identical, so "final" = the max-depth row.

    This is a VERIFICATION harness: the quantile cut + local replay are
    driver-side by design (a production stream reads Kafka); the
    operator under test is the stateful funnel itself.

    ``maxFilesPerTrigger`` is a file-SOURCE option and is set on the
    ``readStream`` builder (on the sink it is silently ignored and
    ``availableNow`` swallows all slices in ONE micro-batch — the replay
    then never exercises cross-batch state). Slice files get explicit
    strictly-increasing mtimes (``os.utime``) so the file source's
    modification-time ordering replays them in event-time order
    deterministically, and the realized micro-batch count is recorded in
    ``stats['n_microbatches']`` so callers can ASSERT the replay really
    was multi-batch rather than trust it.
    """
    import os
    import tempfile
    import time as _time

    spark = df.sparkSession
    work = work_dir or tempfile.mkdtemp(prefix="stream_funnel_")
    src = os.path.join(work, "src")
    ck = os.path.join(work, "ck")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    probs = [i / n_batches for i in range(1, n_batches)]
    cuts = df.select(us.alias("__us")).approxQuantile("__us", probs, 0.0)
    lo = None
    seen: set[str] = set()
    base_mtime = _time.time()
    for i, hi in enumerate([*cuts, None]):
        sl = df
        if lo is not None:
            sl = sl.where(us >= lo)
        if hi is not None:
            sl = sl.where(us < hi)
        sl.coalesce(1).write.mode("append").parquet(src)
        lo = hi
        # pin this slice's part-files to mtime base+i: the file source
        # orders by modification time, and write-completion timestamps
        # alone are not guaranteed distinct
        for f in os.listdir(src):
            if f.startswith("part-") and f not in seen:
                seen.add(f)
                os.utime(os.path.join(src, f), (base_mtime + i, base_mtime + i))
    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_funnel(
        sdf, user_col, ts_col, type_col, steps, within_seconds=within_seconds
    )
    name = f"stream_funnel_replay_{int(_time.time() * 1e6)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if stats is not None:
        stats["n_microbatches"] = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.desc("depth"))
    return (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
