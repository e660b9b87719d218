"""DuckDB oracle emission: the same pure generation pipeline as the
engine, expressed as ANSI-ish SQL, for independent verification.

Given a (config, model, column) this emits one DuckDB query producing
``(id, <column>)`` value-identical to ``Engine.model_df``. The value
function, jitter, range dispatch and null gate are recomputed
independently from the plan parameters; the seeded permutation (which
*is* the semantic, not a derived quantity) is embedded as an array
literal built by the same ``core/sequence`` tables the engine's
workers read.

Columns whose value generators have no SQL mirror (uuid, free-form
strings, text) return ``None`` — the driver then records the weaker
rows-only check.
"""

from __future__ import annotations

import numpy as np

from sdvg_spark.config.model import GenerationConfig
from sdvg_spark.core.rng import dlit, frf_cte_chain
from sdvg_spark.core.sequence import feistel_np, lfsr_walk, ordered_sql, range_perm_mode
from sdvg_spark.engine import ColumnPlan, plan_column
from sdvg_spark.generators.values import EnumGen

# Hard cap on embedded permutation-literal size (rows); oracle queries
# target sf0.01-scale checks, not production row counts.
ORACLE_PERM_CAP = 200_000


def _perm_array_sql(n: int, seed: int, mode: str) -> str | None:
    if n > ORACLE_PERM_CAP:
        return None
    if mode == "lfsr":
        tab = np.asarray(lfsr_walk(n, seed), dtype=np.int64)
    else:
        tab = np.asarray(feistel_np(np.arange(n, dtype=np.uint64), n, seed), dtype=np.int64)
    return "[" + ",".join(str(int(v)) for v in tab) + "]"


def column_oracle_sql(
    cfg: GenerationConfig, model_name: str, column_name: str
) -> str | None:
    """Full DuckDB query reproducing engine output for one column, or
    None when any piece lacks a SQL mirror."""
    model = cfg.models[model_name]
    column = model.column(column_name)
    plan = plan_column(cfg, model, column)
    lo, hi = model.generate_from, model.generate_to

    # --- draw-number pipeline ------------------------------------------------
    if plan.all_ordered_single:
        r = plan.ranges[0]
        num_expr = ordered_sql("id", r.distinct, r.cnt)
        pre = (
            f"ids AS (SELECT range AS id FROM range({lo},{hi})), "
            f"d AS (SELECT id, 0 AS ridx, {num_expr} AS num FROM ids)"
        )
    else:
        perm = _perm_array_sql(plan.rows, plan.data_seed, plan.perm_mode)
        if perm is None:
            return None
        # range dispatch boundaries and per-range draw
        bounds, off = [], 0
        for r in plan.ranges:
            off += r.cnt
            bounds.append(off)
        ridx_case = "CASE " + " ".join(
            f"WHEN gnum < {b} THEN {j}" for j, b in enumerate(bounds[:-1])
        ) + f" ELSE {len(bounds) - 1} END" if len(bounds) > 1 else "0"
        num_cases = []
        for j, r in enumerate(plan.ranges):
            k = f"(gnum - {r.off})"
            if r.ordered:
                ne = ordered_sql(k, r.distinct, r.cnt)
            else:
                rp = _perm_array_sql(r.distinct, int(r.order_seed), range_perm_mode(plan.perm_mode, r.distinct))
                if rp is None:
                    return None
                ne = f"(__rp{j}[(({k}) % {r.distinct}) + 1])"
            num_cases.append((j, ne))
        if len(num_cases) == 1:
            num_expr = num_cases[0][1]
        else:
            num_expr = (
                "CASE "
                + " ".join(f"WHEN ridx = {j} THEN {ne}" for j, ne in num_cases[:-1])
                + f" ELSE {num_cases[-1][1]} END"
            )
        # per-range permutation literals ride in a one-row cross-joined CTE
        rp_cols = ", ".join(
            f"{_perm_array_sql(r.distinct, int(r.order_seed), range_perm_mode(plan.perm_mode, r.distinct))} AS __rp{j}"
            for j, r in enumerate(plan.ranges)
            if not r.ordered
        )
        tabs = f"tabs AS (SELECT {perm} AS __perm" + (f", {rp_cols}" if rp_cols else "") + "), "
        pre = (
            f"{tabs}"
            f"ids AS (SELECT range AS id FROM range({lo},{hi})), "
            f"g AS (SELECT id, (__perm[(id % {plan.rows}) + 1]) AS gnum FROM ids, tabs), "
            f"g2 AS (SELECT *, ({ridx_case}) AS ridx FROM g), "
            f"d AS (SELECT id, gnum, ridx, ({num_expr}) AS num FROM g2, tabs)"
        )

    # --- frf draw (jitter + null gate share one hash, engine parity) --------
    chain, final = frf_cte_chain("d", f"{plan.data_seed} + num", carry=["id", "ridx", "num"], out="r01")

    # --- value dispatch ------------------------------------------------------
    val_cases = []
    laterals: list[tuple[str, str]] = []
    extra_ctes: list[tuple[str, str]] = []
    for r in plan.ranges:
        number = f"(num::DOUBLE + r01 * {dlit(r.factor)})"
        if isinstance(r.vgen, EnumGen):
            v = r.vgen.sql("num", _duck_type(plan.dtype))
        else:
            v = r.vgen.sql(number)
        if v is None and hasattr(r.vgen, "sql_lateral"):
            # stepwise digit-chain generators (uuid, templates, text):
            # stages become chained projections so IEEE rounding matches
            # the numpy kernel stage-for-stage; bulky lookup literals
            # ride in one-row CTEs referenced as scalar subqueries
            # (evaluated once, not per row)
            res = r.vgen.sql_lateral(number, f"__l{r.index}_")
            if res is not None:
                if len(res) == 3:
                    lats, v, ctes = res
                    extra_ctes.extend(ctes)
                else:
                    lats, v = res
                laterals.extend(lats)
        if v is None:
            return None
        if r.null_pct > 0:
            v = f"(CASE WHEN r01 < {dlit(r.null_pct)} THEN NULL ELSE {v} END)"
        val_cases.append((r.index, v))
    if len(val_cases) == 1:
        val_expr = val_cases[0][1]
    else:
        val_expr = (
            "CASE "
            + " ".join(f"WHEN ridx = {j} THEN {v}" for j, v in val_cases[:-1])
            + f" ELSE {val_cases[-1][1]} END"
        )
    cast = _duck_type(plan.dtype)
    if laterals:
        # one chained CTE per stage: DuckDB expands same-SELECT lateral
        # aliases by SUBSTITUTION, so a recurrence referencing its
        # predecessor k times would grow k^depth; a projection chain
        # computes every stage exactly once per row.
        stages = []
        rel = final
        for i, (n, e) in enumerate(laterals):
            nxt = f"lat{i}"
            stages.append(f"{nxt} AS (SELECT *, {e} AS {n} FROM {rel})")
            rel = nxt
        # MATERIALIZED: DuckDB inlines plain CTEs at every reference
        # site, re-constant-folding the bulky lookup literals once per
        # referencing stage (~20s of planner time with a 10k-word
        # pack); materializing pins one evaluation
        cte_sql = "".join(f"{n} AS MATERIALIZED ({s}), " for n, s in extra_ctes)
        return (
            f"WITH {pre}, {chain}, {cte_sql}{', '.join(stages)} "
            f"SELECT id, CAST({val_expr} AS {cast}) AS {column_name} FROM {rel}"
        )
    return (
        f"WITH {pre}, {chain} "
        f"SELECT id, CAST({val_expr} AS {cast}) AS {column_name} FROM {final}"
    )


def _duck_type(spark_dtype: str) -> str:
    return {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "float": "REAL",
        "double": "DOUBLE",
        "timestamp": "TIMESTAMP",
        "string": "VARCHAR",
    }[spark_dtype]
