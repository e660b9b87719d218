"""Structured Streaming: generation stream, windowed/session aggs,
streaming dedup. File source + availableNow trigger + memory sink keeps
runs deterministic."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine


def _await(q, timeout=60):
    q.awaitTermination(timeout)
    assert not q.isActive


CFG = {
    "random_seed": 11,
    "models": {
        "m": {
            "rows_count": 500,
            "columns": [
                {"name": "k", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 1, "to": 500}, "ordered": True},
                {"name": "v", "type": "float", "type_params": {"from": 0, "to": 1}},
                {"name": "tag", "type": "string", "values": ["a", "b"]},
            ],
        }
    },
}


def test_stream_model_matches_batch(spark):
    """The streaming generator must emit exactly the batch rows at the
    same indices (idempotence across execution modes)."""
    from sdvg_spark.streaming import stream_model

    cfg = parse_config(CFG)
    sdf = stream_model(spark, cfg, "m", rows_per_second=10_000, include_event_time=False)
    assert sdf.isStreaming
    name = f"sm_{int(time.time() * 1000)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql(f"SELECT count(*) c FROM {name}").first().c >= 300:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {
        (r.k, round(r.v, 9), r.tag)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert len(got) >= 300
    batch = {
        (r.k, round(r.v, 9), r.tag)
        for r in Engine(cfg).model_df(spark, "m").collect()
    }
    assert got <= batch  # every streamed row is a batch row, bit-for-bit


@pytest.fixture()
def event_files(spark, tmp_path):
    rows = []
    for uid in (1, 2):
        for i in range(10):
            # two sessions per user: burst in hour 10, burst in hour 12
            hour = 10 if i < 5 else 12
            rows.append((uid, i, f"2024-01-01 {hour:02d}:{(i % 5) * 10:02d}:00", 1.0))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_s string, value double")
    df = df.select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"), "value")
    path = str(tmp_path / "events_in")
    df.coalesce(1).write.parquet(path)
    return path, df


def _stream_from(spark, path, schema):
    return spark.readStream.schema(schema).parquet(path)


def test_windowed_agg_stream(spark, event_files):
    from sdvg_spark.streaming import windowed_agg

    path, batch_df = event_files
    sdf = _stream_from(spark, path, batch_df.schema)
    out = windowed_agg(
        sdf,
        "ts",
        "1 hour",
        {"n": F.count(F.lit(1)), "total": F.sum("value")},
        keys=["user_id"],
        watermark="1 minute",
    )
    name = f"wa_{int(time.time() * 1000)}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    _await(q)
    # append mode only emits windows older than the watermark; run the
    # same op in BATCH mode (unified semantics) for the full answer
    got = {
        (r.user_id, r.window_start.hour, r.n, r.total)
        for r in windowed_agg(
            batch_df, "ts", "1 hour", {"n": F.count(F.lit(1)), "total": F.sum("value")},
            keys=["user_id"],
        ).collect()
    }
    assert got == {(1, 10, 5, 5.0), (1, 12, 5, 5.0), (2, 10, 5, 5.0), (2, 12, 5, 5.0)}


def test_sessionize_stream_batch_parity(spark, event_files):
    from sdvg_spark.streaming import sessionize_stream

    _, batch_df = event_files
    out = sessionize_stream(
        batch_df, "ts", "30 minutes", {"n": F.count(F.lit(1))}, keys=["user_id"]
    ).collect()
    # 2 users x 2 sessions of 5 events
    assert len(out) == 4
    assert all(r.n == 5 for r in out)


def test_shuffle_first_mode_same_values_one_exchange(spark, event_files):
    """The batch scale knob (r9 sf100: ~12.3 GB map-side partial spill
    each for hourly/session over near-raw-cardinality (key, window)
    groups): shuffle_first=True must produce the identical answer with
    exactly ONE exchange in the plan — the manual repartition satisfies
    the aggregate's clustered-distribution requirement, so no second
    shuffle appears and the partials collapse post-shuffle."""
    from sdvg_spark.streaming import sessionize_stream, windowed_agg

    _, batch_df = event_files
    for fn, kw in (
        (windowed_agg, {"window": "1 hour"}),
        (sessionize_stream, {"gap": "30 minutes"}),
    ):
        args = [batch_df, "ts", next(iter(kw.values())), {"n": F.count(F.lit(1))}]
        plain = {tuple(r) for r in fn(*args, keys=["user_id"]).collect()}
        fast_df = fn(*args, keys=["user_id"], shuffle_first=True)
        fast = {tuple(r) for r in fast_df.collect()}
        assert plain == fast, fn.__name__
        plan = fast_df._jdf.queryExecution().executedPlan().toString()
        # a materialized AdaptiveSparkPlan prints Final AND Initial
        # sections — count exchanges in the final plan only
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("Exchange hashpartitioning") == 1, (fn.__name__, plan)


def test_sessionize_stream_exact_gap_ties(spark):
    """``sessionize_stream`` must match a plain-Python sessionizer that
    opens a new session only when the gap to the previous event is
    STRICTLY greater than 30 minutes — including events spaced EXACTLY
    one gap apart (the tie boundary merges) and chains of sub-gap
    events spanning many hours."""
    import random

    from sdvg_spark.streaming import sessionize_stream

    gap = 1800
    rnd = random.Random(7)
    rows, eid, base = [], 0, 1_700_000_000
    for uid in range(1, 21):
        t = base + rnd.randrange(0, 86_400)
        for _ in range(rnd.randrange(1, 60)):
            r = rnd.random()
            if r < 0.55:
                t += rnd.randrange(1, gap)
            elif r < 0.70:
                t += gap  # exact-gap tie
            else:
                t += rnd.randrange(gap + 1, 30_000)
            rows.append((uid, eid, t, rnd.randrange(1, 100)))
            eid += 1
    df = (
        spark.createDataFrame(
            rows, "user_id long, event_id long, tsec long, value long"
        )
        .select(
            "user_id",
            "event_id",
            F.col("tsec").cast("timestamp").alias("ts"),
            "value",
        )
    )
    aggs = {"n": F.count(F.lit(1)), "v": F.sum("value")}

    # [start, last, n, v] per session; rows are time-ordered per user
    sessions: dict[int, list[list[int]]] = {}
    for uid, _, t, v in rows:
        open_ = sessions.setdefault(uid, [])
        if open_ and t - open_[-1][1] <= gap:
            open_[-1][1:] = [t, open_[-1][2] + 1, open_[-1][3] + v]
        else:
            open_.append([t, t, 1, v])
    want = {
        (uid, start, last + gap, n, v)
        for uid, ss in sessions.items()
        for start, last, n, v in ss
    }

    got = sessionize_stream(
        df, "ts", "30 minutes", aggs, keys=["user_id"]
    ).select(
        "user_id",
        F.unix_seconds("session_start"),
        F.unix_seconds("session_end"),
        "n",
        "v",
    )
    assert {tuple(r) for r in got.collect()} == want


def test_stream_dedup(spark, tmp_path):
    from sdvg_spark.streaming import stream_dedup

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "id long, payload string"
    )
    path = str(tmp_path / "dd_in")
    df.coalesce(1).write.parquet(path)
    sdf = spark.readStream.schema(df.schema).parquet(path)
    out = stream_dedup(sdf, ["payload"])
    name = f"dd_{int(time.time() * 1000)}"
    q = out.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    _await(q)
    rows = spark.sql(f"SELECT payload, count(*) c FROM {name} GROUP BY payload").collect()
    assert {(r.payload, r.c) for r in rows} == {("x", 1), ("y", 1)}


def test_stream_running_totals(spark, tmp_path):
    """The applyInPandasWithState operator must produce batch-identical
    totals from its exact micro-unit state."""
    from sdvg_spark.streaming import stream_running_totals

    # two micro-batch files so state genuinely crosses batches
    src = str(tmp_path / "rt_src")
    batch = Engine(parse_config(CFG)).model_df(spark, "m", keep_id=True)
    b1 = batch.where(F.col("id") < 250).select(
        (F.col("id") % 7).alias("k"), F.col("v")
    )
    b2 = batch.where(F.col("id") >= 250).select(
        (F.col("id") % 7).alias("k"), F.col("v")
    )
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    sdf = spark.readStream.schema("k long, v double").parquet(src)
    out = stream_running_totals(sdf, "k", "v")
    name = "rt_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "rt_ck"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    # final state per key (last update wins) must equal the batch agg
    # EXACTLY: the state is an integer micro-unit sum (order-independent
    # and associative), so no rounding tolerance is needed — identical
    # totals regardless of how rows split into micro-batches
    got = {
        r["k"]: (r["total_micros"], r["count"])
        for r in spark.sql(
            f"SELECT k, total_micros, count FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY k ORDER BY count DESC) AS rn FROM {name}) WHERE rn = 1"
        ).collect()
    }
    want = {
        r["k"]: (r["micros"], r["cnt"])
        for r in b1.unionAll(b2)
        .groupBy("k")
        .agg(
            # cast BEFORE multiplying: the model's v is float32, and a
            # f32 product rounds differently than the double product the
            # stream (schema "v double") and the state kernel both use
            F.sum(F.round(F.col("v").cast("double") * 1_000_000).cast("long")).alias("micros"),
            F.count("v").alias("cnt"),
        )
        .collect()
    }
    assert got == want


def test_watermark_drops_late_events(spark, tmp_path):
    """The watermark contract end-to-end: an event arriving after the
    watermark passed its window is DROPPED (visible both in the closed
    window's count and in the numRowsDroppedByWatermark state metric),
    and a still-open window is withheld in append mode.

    Note the micro-batch layout: Spark applies the late-input filter
    with the watermark as planned at the START of a batch, which lags
    the reported (end-of-batch) watermark by one batch — so the late
    event must arrive >= 2 batches after the event that advanced the
    watermark past its window, or it silently merges. That lag is why
    this test ships four files, not two.
    """
    from datetime import datetime as dt

    from sdvg_spark.streaming import windowed_agg

    schema = "user_id long, ts timestamp, value double"
    src = str(tmp_path / "late_src")
    batches = [
        # batch 0: three on-time 10:xx events
        [(1, dt(2024, 1, 1, 10, 0), 1.0),
         (1, dt(2024, 1, 1, 10, 10), 1.0),
         (1, dt(2024, 1, 1, 10, 20), 1.0)],
        # batch 1: advances max event time to 12:00 (watermark: 11:50)
        [(1, dt(2024, 1, 1, 12, 0), 1.0)],
        # batch 2: filler so the 11:50 watermark reaches the input filter
        [(1, dt(2024, 1, 1, 12, 5), 1.0)],
        # batch 3: a LATE 10:30 event (past the closed [10:00, 11:00)
        # window) plus an on-time 12:30 event
        [(1, dt(2024, 1, 1, 10, 30), 100.0),
         (1, dt(2024, 1, 1, 12, 30), 1.0)],
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)  # distinct mtimes -> deterministic file order

    sdf = (
        spark.readStream.schema(spark.createDataFrame([], schema).schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    out = windowed_agg(
        sdf,
        "ts",
        "1 hour",
        {"n": F.count(F.lit(1)), "total": F.sum("value")},
        keys=["user_id"],
        watermark="10 minutes",
    )
    name = f"late_{int(time.time() * 1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, timeout=90)
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # exactly the late 10:30 event
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    by_hour = {r.window_start.hour: r for r in rows}
    # the 10:00 window closed with ONLY the on-time events: the late
    # value-100 event was neither merged nor re-emitted
    assert 10 in by_hour
    assert by_hour[10].n == 3
    assert by_hour[10].total == 3.0
    # the 12:00 window is still open (watermark < 13:00), so append
    # mode withholds it
    assert 12 not in by_hour


def test_stream_funnel_matches_batch(spark, tmp_path):
    """Per-user in-order delivery across micro-batches -> the final
    emitted row per user is identical to the batch funnel (fold tier)
    of the concatenated input, including conversion-window drops."""
    from datetime import datetime, timedelta
    import random

    from sdvg_spark.ops.analytics import funnel
    from sdvg_spark.streaming import stream_funnel

    rng = random.Random(29)
    base = datetime(2024, 6, 1)
    rows = [
        (
            u,
            base + timedelta(hours=rng.randrange(0, 300)),
            rng.choice(["view", "click", "purchase", "other"]),
        )
        for u in range(40)
        for _ in range(rng.randrange(0, 10))
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    # split into 3 micro-batches by GLOBAL time thirds: every user's
    # events then arrive in event-time order across batches
    cuts = [base + timedelta(hours=100), base + timedelta(hours=200)]
    src = str(tmp_path / "sf_src")
    df.where(F.col("ts") < cuts[0]).coalesce(1).write.parquet(src)
    df.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])).coalesce(
        1
    ).write.mode("append").parquet(src)
    df.where(F.col("ts") >= cuts[1]).coalesce(1).write.mode("append").parquet(src)

    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = stream_funnel(
        sdf, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within_seconds=5 * 86400,
    )
    name = f"sf_sink_{int(time.time() * 1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sf_ck"))
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts, r.depth)
        for r in spark.sql(
            f"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
            f"ORDER BY depth DESC) rn FROM {name}) WHERE rn = 1"
        ).collect()
    }
    want = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts, r.depth)
        for r in funnel(
            df, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_seconds=5 * 86400,
        ).collect()
    }
    assert got == want


def test_stream_funnel_validates_args(spark):
    from sdvg_spark.streaming import stream_funnel

    df = spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    import pytest as _pt

    with _pt.raises(ValueError):
        stream_funnel(df, "user_id", "ts", "event_type", ["view"])
    with _pt.raises(ValueError):
        stream_funnel(df, "user_id", "ts", "event_type", ["a", "b"], within_seconds=0)


def test_stream_funnel_replay_equals_batch(spark, tmp_path):
    """The driver-checkable replay harness returns exactly the batch
    funnel rows (per-user final state under in-order micro-batches)."""
    from datetime import datetime, timedelta
    import random

    from sdvg_spark.ops.analytics import funnel
    from sdvg_spark.streaming import stream_funnel_replay

    rng = random.Random(31)
    base = datetime(2024, 6, 1)
    rows = [
        (
            u,
            base + timedelta(hours=rng.randrange(0, 200)),
            rng.choice(["view", "click", "purchase", "other"]),
        )
        for u in range(30)
        for _ in range(rng.randrange(0, 8))
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    stats: dict = {}
    got = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts, r.depth)
        for r in stream_funnel_replay(
            df, "user_id", "ts", "event_type", steps,
            within_seconds=3 * 86400, work_dir=str(tmp_path / "replay"),
            stats=stats,
        ).collect()
    }
    # the replay must actually be multi-batch — maxFilesPerTrigger on
    # the wrong builder silently collapses it to one micro-batch and
    # the equality below stops testing cross-batch state
    assert stats["n_microbatches"] == 3
    want = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts, r.depth)
        for r in funnel(
            df, "user_id", "ts", "event_type", steps, within_seconds=3 * 86400
        ).collect()
    }
    assert got == want
