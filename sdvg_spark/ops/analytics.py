"""Behavioral analytics operators: ordered funnels and cohort
retention.

These are the product-analytics queries an events table exists for
(the reference class of engines is judged on them next to the
temporal joins in ops/joins.py). Both are compositions of standard
DataFrame aggregations/joins — every shuffle is keyed by the user
column, so the plans scale with the user population, never with a
single partition's worth of global state — and both have exact
ANSI-SQL mirrors for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    *,
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel.

    A user enters the funnel at their EARLIEST ``steps[0]`` event;
    step k (k ≥ 2) is the earliest ``steps[k-1]`` event at or after
    the user's step-(k-1) timestamp — and, when ``within_seconds`` is
    set, no later than ``step_1_ts + within_seconds`` (the standard
    conversion-window rule, measured from funnel entry). Returns one
    row per user who reached step 1:

        (user, step_1_ts, ..., step_K_ts, depth)

    with NULL timestamps past the deepest step reached and
    ``depth`` = number of steps completed.

    Plan: filter to the K step types, ONE user-keyed shuffle collecting
    each user's (ts, step) events, then a greedy left fold over the
    time-sorted array. Greedy-equals-min because each step's timestamp
    is fixed at the first qualifying event of a time-ordered scan;
    within an equal timestamp the fold orders by step index, so a
    step-k event at exactly step-(k-1)'s timestamp still qualifies (the
    ``>=`` of the per-step min-aggregation chain that
    :func:`funnel_oracle_sql` spells out). Duplicate step TYPES map to
    one index and the fold's sequential within-event update lets a
    single event satisfy consecutive same-type steps, exactly like that
    chain. Per-user state is its own filtered event list — the same
    bound as any per-entity window.

    Timestamps compare at full microsecond precision, so results are
    exact and partitioning-independent.
    """
    if len(steps) < 2:
        raise ValueError(f"funnel needs >= 2 steps, got {steps!r}")
    if within_seconds is not None and within_seconds < 1:
        raise ValueError(f"within_seconds must be >= 1, got {within_seconds}")

    # NULL-timestamp events carry no ordering information and are
    # dropped up front, as the SQL oracle does — the degenerate corner
    # is a user whose only step-1 events are unstamped.
    ev = events.where(F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__t"),
    )
    k_n = len(steps)
    # fold on the NATIVE timestamp type (TIMESTAMP or TIMESTAMP_NTZ):
    # comparisons, sort_array and the INTERVAL window bound all work on
    # either, and the output columns keep the input's exact type
    ts_type = ev.schema["__ts"].dataType.simpleString()
    bound = (
        None
        if within_seconds is None
        else F.expr(f"INTERVAL {int(within_seconds)} SECOND")
    )
    # index of each event = FIRST step position of its type
    idx: Column = F.lit(None).cast("int")
    for pos in range(k_n - 1, -1, -1):
        idx = F.when(F.col("__t") == steps[pos], F.lit(pos)).otherwise(idx)
    # e fills step k (0-based) iff its type equals steps[k] <=> its
    # first-occurrence index equals first_index_of(steps[k])
    fi = [steps.index(steps[k]) for k in range(k_n)]

    arr = (
        ev.select("__u", F.col("__ts"), idx.alias("__i"))
        .where(F.col("__i").isNotNull())
        .groupBy("__u")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__ts").alias("ts"), F.col("__i").alias("i")))
            ).alias("__evs")
        )
    )

    nul = F.lit(None).cast(ts_type)
    init = F.struct(*[nul.alias(f"t{k}") for k in range(k_n)])

    def step_fn(acc: Column, e: Column) -> Column:
        new: list[Column] = []
        for k in range(k_n):
            cur = acc[f"t{k}"]
            cond = cur.isNull() & (e["i"] == F.lit(fi[k]))
            if k > 0:
                prev = new[k - 1]  # sequentially updated within this event
                cond = cond & prev.isNotNull() & (e["ts"] >= prev)
                if bound is not None:
                    cond = cond & (e["ts"] <= new[0] + bound)
            new.append(F.when(cond, e["ts"]).otherwise(cur))
        return F.struct(*[c.alias(f"t{k}") for k, c in enumerate(new)])

    folded = arr.select(
        "__u", F.aggregate("__evs", init, step_fn).alias("__f")
    ).where(F.col("__f.t0").isNotNull())
    depth: Column = F.lit(1)
    for k in range(1, k_n):
        depth = depth + F.when(
            F.col(f"__f.t{k}").isNotNull(), F.lit(1)
        ).otherwise(F.lit(0))
    return folded.select(
        F.col("__u").alias(user_col),
        *[F.col(f"__f.t{k}").alias(f"step_{k + 1}_ts") for k in range(k_n)],
        depth.cast("int").alias("depth"),
    )


def funnel_oracle_sql(
    *,
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    steps: list[str],
    within_seconds: int | None = None,
) -> str:
    """DuckDB mirror of :func:`funnel`, written as the per-step
    min-aggregation + left-join chain the fold is equivalent to,
    microsecond-exact."""
    parts = [
        f"e AS (SELECT {user_col} AS u, {ts_col}::TIMESTAMP AS ts, "
        f"{type_col} AS t FROM {table} WHERE {ts_col} IS NOT NULL)",
        f"s1 AS (SELECT u, min(ts) AS step_1_ts FROM e "
        f"WHERE t = '{steps[0]}' GROUP BY u)",
    ]
    for k in range(2, len(steps) + 1):
        prev = ", ".join(f"step_{i}_ts" for i in range(1, k))
        bound = (
            f" AND e.ts <= s{k - 1}.step_1_ts + INTERVAL {int(within_seconds)} SECOND"
            if within_seconds is not None
            else ""
        )
        parts.append(
            f"s{k} AS (SELECT s{k - 1}.u, "
            + ", ".join(f"s{k - 1}.step_{i}_ts" for i in range(1, k))
            + f", min(e.ts) AS step_{k}_ts "
            f"FROM s{k - 1} LEFT JOIN e ON e.u = s{k - 1}.u "
            f"AND e.t = '{steps[k - 1]}' "
            f"AND e.ts >= s{k - 1}.step_{k - 1}_ts{bound} "
            f"GROUP BY s{k - 1}.u, {prev})"
        )
    k = len(steps)
    depth = " + ".join(
        ["1"]
        + [
            f"CASE WHEN step_{i}_ts IS NULL THEN 0 ELSE 1 END"
            for i in range(2, k + 1)
        ]
    )
    cols = ", ".join(f"step_{i}_ts" for i in range(1, k + 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT u AS {user_col}, {cols}, ({depth})::INT AS depth FROM s{k}"
    )


_RETENTION_DEFAULT: object = object()


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    max_offset_days: int | None | object = _RETENTION_DEFAULT,
) -> DataFrame:
    """Daily cohort retention matrix.

    Each user's cohort is the day of their first event; the matrix
    counts, for every (cohort_day, day_offset), how many of that
    cohort's users were active ``day_offset`` days after signup:

        (cohort_day, day_offset, n_users)

    ``day_offset`` 0 exists for every cohort (the signup day itself),
    so ``n_users`` at offset 0 is the cohort size — divide through it
    downstream for retention rates.

    Plan shape: a user-keyed min-aggregation for cohorts, a distinct
    over (user, day) activity pairs, one user-keyed join, and a final
    aggregation on (cohort_day, day_offset). The activity distinct
    guarantees each user counts once per offset, so the final
    ``count(*)`` is exactly the distinct-user count without an
    expand-based countDistinct.

    The matrix's key space is (cohort days × offsets) — quadratic in
    the covered date SPAN when unbounded (measured 22.5× shuffle
    growth on 9.3× input in SHUFFLE_r06.md, where the scale fixture
    stretches the span). ``max_offset_days`` caps the reporting
    horizon and DEFAULTS to 90 (90-day retention): the filter applies
    before the final aggregation, making the matrix constant-width and
    the whole plan linear in events. Pass ``max_offset_days=None`` to
    opt into the unbounded span-quadratic matrix explicitly.

    BEHAVIOR CHANGE NOTE: the default was unbounded (None) before the
    90-day cap landed; rows past the horizon silently vanish for
    callers that relied on the old default. Relying on the default
    therefore raises a one-time ``UserWarning`` — pass
    ``max_offset_days`` explicitly (a horizon or None) to silence it.
    """
    if max_offset_days is _RETENTION_DEFAULT:
        import warnings

        warnings.warn(
            "cohort_retention now defaults to a 90-day reporting horizon "
            "(previously unbounded): offsets past 90 days are dropped. "
            "Pass max_offset_days explicitly (a day count, or None for "
            "the full span-quadratic matrix) to silence this warning.",
            UserWarning,
            stacklevel=2,
        )
        max_offset_days = 90
    if max_offset_days is not None and max_offset_days < 0:
        raise ValueError(
            f"max_offset_days must be >= 0, got {max_offset_days}"
        )
    ev = events.select(
        F.col(user_col).alias("__u"),
        # DATE (not day-truncated TIMESTAMP): matches DuckDB's
        # date_trunc('day', ts) return type so oracle values compare raw.
        F.to_date(F.col(ts_col)).alias("__day"),
    )
    first = ev.groupBy("__u").agg(F.min("__day").alias("cohort_day"))
    act = ev.distinct()
    joined = act.join(first, "__u").select(
        "cohort_day",
        F.datediff(F.col("__day"), F.col("cohort_day"))
        .cast("long")
        .alias("day_offset"),
    )
    if max_offset_days is not None:
        joined = joined.where(F.col("day_offset") <= max_offset_days)
    return joined.groupBy("cohort_day", "day_offset").agg(
        F.count("*").alias("n_users")
    )


def cohort_retention_oracle_sql(
    *,
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset_days: int | None = 90,
) -> str:
    """DuckDB mirror of :func:`cohort_retention` (same 90-day default)."""
    cap = (
        ""
        if max_offset_days is None
        else f"\nWHERE date_diff('day', f.cohort_day, a.day) <= {int(max_offset_days)}"
    )
    return f"""
WITH e AS (SELECT {user_col} AS u, date_trunc('day', {ts_col}::TIMESTAMP) AS day
           FROM {table}),
f AS (SELECT u, min(day) AS cohort_day FROM e GROUP BY u),
a AS (SELECT DISTINCT u, day FROM e)
SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day)::BIGINT AS day_offset,
  count(*) AS n_users
FROM a JOIN f USING (u){cap}
GROUP BY f.cohort_day, day_offset"""

