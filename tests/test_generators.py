"""Generator property suite over collected DataFrames.

Port of the reference's property helpers (SURVEY.md §5): type/bounds,
ordered monotonicity, distinct cardinality, FK containment, null
fraction, range counts, and the flagship idempotence property —
additionally asserted across different partition counts (the
Spark-specific hazard).
"""

from __future__ import annotations

import re

import pytest

from sdvg_spark.config.model import parse_config
from sdvg_spark.engine import Engine

ROWS = 4000

CFG = {
    "random_seed": 42,
    "models": {
        "m": {
            "rows_count": ROWS,
            "columns": [
                {"name": "i_ord", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 1, "to": ROWS}, "ordered": True},
                {"name": "i_rand", "type": "integer",
                 "type_params": {"bit_width": 32, "from": -500, "to": 500}},
                {"name": "i_dist", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 0, "to": 10**12},
                 "distinct_count": 32},
                {"name": "i_uniq", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 0, "to": 10**15},
                 "distinct_percentage": 1.0},
                {"name": "f32", "type": "float", "type_params": {"from": 0, "to": 5}},
                {"name": "f_null", "type": "float",
                 "type_params": {"bit_width": 64, "from": -1, "to": 1},
                 "null_percentage": 0.25},
                {"name": "dt_ord", "type": "datetime", "ordered": True},
                {"name": "dt_rand", "type": "datetime",
                 "type_params": {"from": "2020-01-01T00:00:00Z", "to": "2021-01-01T00:00:00Z"}},
                {"name": "enum", "type": "string", "values": ["bronze", "gold", "silver"]},
                {"name": "first_name", "type": "string",
                 "type_params": {"logical_type": "first_name"}},
                {"name": "phone", "type": "string", "type_params": {"logical_type": "phone"}},
                {"name": "uuid", "type": "uuid"},
                {"name": "s_simple", "type": "string",
                 "type_params": {"min_length": 4, "max_length": 12}},
                {"name": "s_tmpl", "type": "string", "type_params": {"template": "AA-00-aa"}},
                {"name": "ranges", "type": "integer", "ranges": [
                    {"type_params": {"bit_width": 16, "from": 0, "to": 10},
                     "range_percentage": 0.3},
                    {"type_params": {"bit_width": 16, "from": 1000, "to": 2000},
                     "range_percentage": 0.7, "ordered": True}]},
            ],
        },
        "child": {
            "rows_count": 6000,
            "columns": [{"name": "pid", "foreign_key": "m.i_ord"}],
        },
        "child_ord": {
            "rows_count": 6000,
            "columns": [
                {"name": "pid", "foreign_key": "m.i_ord", "foreign_key_order": True}
            ],
        },
        "m_slice": {
            "rows_count": ROWS,
            "generate_from": 1000,
            "generate_to": 3000,
            "columns": [
                {"name": "v", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 1, "to": ROWS}, "ordered": True}],
        },
    },
}


@pytest.fixture(scope="module")
def rows(spark):
    eng = Engine(parse_config(CFG))
    df = eng.model_df(spark, "m")
    collected = df.collect()
    assert len(collected) == ROWS
    return {"df": df, "rows": collected, "eng": eng}


def col(rows, name):
    return [r[name] for r in rows["rows"]]


def test_dtypes(rows):
    dt = dict(rows["df"].dtypes)
    assert dt["i_ord"] == "bigint"
    assert dt["i_rand"] == "int"
    assert dt["f32"] == "float"
    assert dt["f_null"] == "double"
    assert dt["dt_ord"] == "timestamp"
    assert dt["enum"] == "string"
    assert dt["uuid"] == "string"
    assert dt["ranges"] == "smallint"


def test_integer_ordered_exact_sequence(rows):
    # from=1, to=ROWS, ordered, distinct=rows -> exactly 1..ROWS
    assert col(rows, "i_ord") == list(range(1, ROWS + 1))


def test_integer_bounds(rows):
    vals = col(rows, "i_rand")
    assert all(-500 <= v <= 500 for v in vals)
    # random permutation should hit a good spread
    assert len(set(vals)) > 500


def test_distinct_count_exact(rows):
    assert len(set(col(rows, "i_dist"))) == 32


def test_distinct_percentage_all_unique(rows):
    vals = col(rows, "i_uniq")
    assert len(set(vals)) == ROWS


def test_float_bounds(rows):
    assert all(0.0 <= v <= 5.0 for v in col(rows, "f32"))


def test_null_percentage(rows):
    vals = col(rows, "f_null")
    frac = sum(v is None for v in vals) / len(vals)
    assert abs(frac - 0.25) < 0.03
    assert all(-1.0 <= v <= 1.0 for v in vals if v is not None)


def test_datetime_ordered_monotone(rows):
    vals = col(rows, "dt_ord")
    assert all(a <= b for a, b in zip(vals, vals[1:]))


def test_datetime_bounds(rows):
    from datetime import datetime

    vals = col(rows, "dt_rand")
    lo, hi = datetime(2020, 1, 1), datetime(2021, 1, 1)
    assert all(lo <= v <= hi for v in vals)


def test_enum_membership_and_balance(rows):
    vals = col(rows, "enum")
    assert set(vals) == {"bronze", "gold", "silver"}
    counts = {v: vals.count(v) for v in set(vals)}
    # round-robin block repeat keeps counts within one block of each other
    assert max(counts.values()) - min(counts.values()) <= ROWS // 3


def test_first_name_in_locale_pack(rows):
    from sdvg_spark.generators.locales import get_locale

    names = set(get_locale("en").first_names())
    vals = col(rows, "first_name")
    assert all(v in names for v in vals)


def test_phone_shape(rows):
    pat = re.compile(r"^[0-9+\-() .]+$")
    assert all(pat.match(v) for v in col(rows, "phone"))


def test_uuid_v4_shape_unique(rows):
    pat = re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    )
    vals = col(rows, "uuid")
    assert all(pat.match(v) for v in vals)
    assert len(set(vals)) == ROWS


def test_string_length_bounds(rows):
    assert all(4 <= len(v) <= 12 for v in col(rows, "s_simple"))


def test_template(rows):
    pat = re.compile(r"^[A-Z]{2}-[0-9]{2}-[a-z]{2}$")
    assert all(pat.match(v) for v in col(rows, "s_tmpl"))


def test_range_counts_exact(rows):
    vals = col(rows, "ranges")
    in1 = sum(0 <= v <= 10 for v in vals)
    in2 = sum(1000 <= v <= 2000 for v in vals)
    assert in1 + in2 == ROWS
    # LFSR permutation is bijective -> block sizes are exact (ceil)
    assert in1 == 1200
    assert in2 == 2800


def test_range_ordered_distribution(rows):
    """`ordered` inside a multi-range column: values are monotone in the
    range's draw sequence (pure-function form; the reference's
    sequential walk is monotone in visit order — documented deviation,
    SURVEY §7). Externally observable contract: the value multiset is
    the balanced floor-step sequence over the range domain."""
    sub = sorted(v for v in col(rows, "ranges") if v >= 1000)
    assert sub[0] == 1000 and sub[-1] == 2000
    counts = {v: sub.count(v) for v in set(sub)}
    # 2800 draws over 1001 distinct values -> each value 2-3 times
    assert set(counts.values()) <= {2, 3}


def test_foreign_key_containment(rows, spark):
    parents = set(col(rows, "i_ord"))
    child = rows["eng"].model_df(spark, "child").collect()
    assert len(child) == 6000
    assert all(r.pid in parents for r in child)


def test_foreign_key_ordered(rows, spark):
    """FK-ordered: sequencer cycle = PARENT row count (reference
    generator.go:38-44), so the child ramps monotonically and wraps
    when it outgrows the parent."""
    vals = [r.pid for r in rows["eng"].model_df(spark, "child_ord").collect()]
    parents = set(col(rows, "i_ord"))
    assert all(v in parents for v in vals)
    first, second = vals[:ROWS], vals[ROWS:]
    assert all(a <= b for a, b in zip(first, first[1:]))
    assert all(a <= b for a, b in zip(second, second[1:]))
    assert second[0] <= first[-1]  # wrapped back to the ramp start


def test_slice_matches_full(rows, spark):
    sliced = rows["eng"].model_df(spark, "m_slice").collect()
    assert len(sliced) == 2000
    # ordered column over the same domain: slice == rows [1000, 3000)
    assert [r.v for r in sliced] == list(range(1001, 3001))


def test_idempotence_partition_layouts(rows, spark):
    a = rows["eng"].model_df(spark, "m", num_partitions=2).collect()
    b = rows["eng"].model_df(spark, "m", num_partitions=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_seed_changes_data(spark):
    cfg2 = {**CFG, "random_seed": 43}
    eng2 = Engine(parse_config(cfg2))
    base = Engine(parse_config(CFG))
    a = [r.i_rand for r in base.model_df(spark, "m").collect()]
    b = [r.i_rand for r in eng2.model_df(spark, "m").collect()]
    assert a != b


def test_fk_into_oversized_parent_falls_back_to_feistel_per_range(spark):
    """A small child whose FK references a parent with rows_count above
    the LFSR parity cap must generate (the oversized RANGE falls back to
    feistel even though the column tier resolved to lfsr)."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    big = 5_000_000  # > LFSR_TABLE_CAP (1<<22)
    cfg = parse_config(
        {
            "random_seed": 11,
            "models": {
                "p": {
                    "rows_count": big,
                    "columns": [
                        {"name": "pid", "type": "integer",
                         "type_params": {"bit_width": 64, "from": 1, "to": 10**12}}
                    ],
                },
                "c": {
                    "rows_count": 2000,
                    "columns": [{"name": "ref", "foreign_key": "p.pid"}],
                },
            },
            "models_to_ignore": ["p"],
        }
    )
    rows = Engine(cfg).model_df(spark, "c").collect()
    assert len(rows) == 2000
    assert all(1 <= r.ref <= 10**12 for r in rows)


def test_lfsr_over_cap_is_a_config_error():
    """``permutation: lfsr`` over a column domain above the parity cap
    fails when the column is planned, on the driver; an ordered
    single-range column reads no table and plans."""
    from sdvg_spark.config.model import ConfigError
    from sdvg_spark.core.sequence import LFSR_TABLE_CAP
    from sdvg_spark.engine import plan_column

    def plan(ordered):
        cfg = parse_config({
            "random_seed": 5,
            "permutation": "lfsr",
            "models": {"m": {"rows_count": LFSR_TABLE_CAP + 5, "columns": [
                {"name": "i", "type": "integer", "ordered": ordered,
                 "type_params": {"bit_width": 64, "from": 0, "to": 10**12}}]}},
        })
        model = cfg.models["m"]
        return plan_column(cfg, model, model.column("i"))

    with pytest.raises(ConfigError, match="lfsr"):
        plan(False)
    assert plan(True).all_ordered_single


def test_generate_makes_no_broadcast(spark, tmp_path, monkeypatch):
    """Each worker builds the LFSR parity tables it reads: a devnull
    generate of an ``auto`` model with permuted columns (single- and
    multi-range) broadcasts nothing."""
    from pyspark import SparkContext

    from sdvg_spark.jobs import run_generate

    calls = []
    broadcast = SparkContext.broadcast

    def counting(self, value):
        calls.append(type(value))
        return broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    raw = {
        "random_seed": 4,
        "output": {"type": "devnull", "dir": str(tmp_path / "dn")},
        "models": {"m": {"rows_count": 3000, "columns": [
            {"name": "f", "type": "float", "type_params": {"from": 0, "to": 1}},
            {"name": "r", "type": "integer", "ranges": [
                {"type_params": {"bit_width": 32, "from": 0, "to": 9}, "range_percentage": 0.5},
                {"type_params": {"bit_width": 32, "from": 100, "to": 10**6},
                 "range_percentage": 0.5}]}]}},
    }
    assert run_generate(raw, spark=spark)["m"].startswith("noop")
    assert calls == []


def test_datetime_ns_unit_lossless_and_oracle_exact(spark):
    """unit: ns emits bigint epoch-nanos carrying the full nanosecond
    interpolation (the reference's datetime precision); truncating to
    micros reproduces the default timestamp column exactly, and the
    DuckDB oracle mirrors the bigint values bit-for-bit."""
    import duckdb

    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine
    from sdvg_spark.oracle import column_oracle_sql

    def cfg(unit):
        return parse_config(
            {
                "random_seed": 13,
                "models": {
                    "m": {
                        "rows_count": 4000,
                        "columns": [
                            {"name": "t", "type": "datetime", "type_params": {
                                "from": "2020-01-01T00:00:00.000001Z",
                                "to": "2020-01-01T00:00:00.999999Z",
                                "unit": unit}}],
                    }
                },
            }
        )

    c_ns, c_us = cfg("ns"), cfg("us")
    ns = {r.id: r.t for r in Engine(c_ns).column_df(spark, "m", "t").collect()}
    us = {r.id: r.t for r in Engine(c_us).column_df(spark, "m", "t").collect()}
    assert len(ns) == 4000
    # some values must carry a sub-microsecond tail, else ns adds nothing
    assert any(v % 1000 for v in ns.values())
    from datetime import timezone

    for i, v in ns.items():
        micros = us[i].replace(tzinfo=timezone.utc).timestamp()
        assert v // 1000 == round(micros * 1_000_000)

    sql = column_oracle_sql(c_ns, "m", "t")
    assert sql is not None
    oracle = {int(i): int(v) for i, v in duckdb.connect().execute(sql).fetchall()}
    assert oracle == {int(i): int(v) for i, v in ns.items()}


def test_text_unranking_is_injective(spark):
    """The length-bucketed text unranking must stay a bijection over
    rank space: a distinct-heavy text column produces all-unique values
    (what distinct_percentage configs rely on)."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine

    cfg = parse_config(
        {
            "random_seed": 11,
            "models": {
                "m": {
                    "rows_count": 4000,
                    "columns": [
                        {
                            "name": "t",
                            "type": "string",
                            "type_params": {
                                "logical_type": "text",
                                "min_length": 20,
                                "max_length": 60,
                            },
                            "distinct_percentage": 1.0,
                        }
                    ],
                }
            },
        }
    )
    vals = [r.t for r in Engine(cfg).model_df(spark, "m").collect()]
    assert all(v for v in vals)  # every rank decodes (no dead "" ranks)
    assert len(set(vals)) == len(vals)


def test_feistel_mode_engine_vs_oracle_exact(spark):
    """The scale-tier (feistel) permutation end-to-end: engine output
    must equal the DuckDB oracle VALUE-FOR-VALUE with the permutation
    forced to feistel (the driver's gen rows run the lfsr tier at
    oracle scales, so without this test a feistel network change has
    no engine-vs-oracle witness — added with the r10 unbalanced-Feistel
    rewrite). Covers a random integer column and a multi-range mix."""
    import duckdb

    from sdvg_spark.config.model import parse_config
    from sdvg_spark.engine import Engine
    from sdvg_spark.oracle import column_oracle_sql

    cfg = parse_config(
        {
            "random_seed": 99,
            "permutation": "feistel",
            "models": {
                "m": {
                    "rows_count": 3000,
                    "columns": [
                        {"name": "v", "type": "integer",
                         "type_params": {"bit_width": 32, "from": -500, "to": 500}},
                        {"name": "mix", "type": "integer", "ranges": [
                            {"type_params": {"bit_width": 32, "from": 0, "to": 100},
                             "range_percentage": 0.6},
                            {"type_params": {"bit_width": 32, "from": 1000, "to": 2000},
                             "range_percentage": 0.4}]},
                    ],
                }
            },
        }
    )
    eng = Engine(cfg)
    for col in ("v", "mix"):
        got = {r.id: r[col] for r in eng.column_df(spark, "m", col).collect()}
        sql = column_oracle_sql(cfg, "m", col)
        assert sql is not None
        want = {int(i): int(v) for i, v in duckdb.connect().execute(sql).fetchall()}
        assert got == want and len(got) == 3000, col


@pytest.mark.parametrize("permutation", ["auto", "feistel"])
def test_multi_range_column_without_draw_matches_oracle(spark, permutation):
    """A two-range column whose ranges neither jitter (each draws its
    whole value space: factor 0) nor gate nulls computes no frf draw at
    all, and still equals its DuckDB mirror row for row."""
    import duckdb

    from sdvg_spark.engine import plan_column
    from sdvg_spark.oracle import column_oracle_sql

    cfg = parse_config({"random_seed": 21, "permutation": permutation, "models": {"m": {
        "rows_count": 1000, "columns": [
            {"name": "v", "type": "integer", "ranges": [
                {"values": [5, -1, 42], "range_percentage": 0.5},
                {"type_params": {"bit_width": 32, "from": 0, "to": 100},
                 "range_percentage": 0.5}]}]}}})
    model = cfg.models["m"]
    plan = plan_column(cfg, model, model.column("v"))
    assert [(r.factor, r.null_pct) for r in plan.ranges] == [(0.0, 0.0), (0.0, 0.0)]
    got = {r.id: r.v for r in Engine(cfg).column_df(spark, "m", "v").collect()}
    want = dict(duckdb.connect().execute(column_oracle_sql(cfg, "m", "v")).fetchall())
    assert got == want and len(got) == 1000
    assert {5, -1, 42} <= set(got.values()) and any(0 <= v <= 100 and v != 5 for v in got.values())


def test_native_and_template_ranges_in_one_column(spark):
    """A column mixing phone, last name and enum ranges with a
    template range equals the DuckDB oracle. Each
    range's values are computed only over that range's rows: a template
    fed another range's (larger) draw numbers indexes past its alphabet,
    which is how a `when`-dispatched value UDF used to fail here."""
    import duckdb

    from sdvg_spark.oracle import column_oracle_sql

    cfg = parse_config(
        {
            "random_seed": 3,
            "models": {
                "m": {
                    "rows_count": 2500,
                    "columns": [
                        {"name": "s", "type": "string", "ranges": [
                            {"type_params": {"logical_type": "phone", "locale": "ru"},
                             "range_percentage": 0.25},
                            {"type_params": {"logical_type": "last_name"},
                             "null_percentage": 0.2, "range_percentage": 0.25},
                            {"values": ["q", None, "zz"], "range_percentage": 0.25},
                            {"type_params": {"template": "A#0a"},
                             "range_percentage": 0.25}]},
                    ],
                }
            },
        }
    )
    got = {r.id: r.s for r in Engine(cfg).column_df(spark, "m", "s").collect()}
    want = dict(duckdb.connect().execute(column_oracle_sql(cfg, "m", "s")).fetchall())
    assert got == want and len(got) == 2500
    assert any(v is not None and len(v) == 4 and v[0].isupper() for v in got.values())


# A second model for the golden test: the multi-range path (a string
# column mixing a nullable simple range and a template range), a
# nullable uuid column and a column mixing an enum range with a
# simple-string range.
MIXED_CFG = {
    "random_seed": 5,
    "models": {
        "mixed": {
            "rows_count": 5000,
            "columns": [
                {"name": "uuid", "type": "uuid", "null_percentage": 0.2},
                {"name": "s_ranges", "type": "string", "ranges": [
                    {"type_params": {"min_length": 3, "max_length": 5},
                     "null_percentage": 0.1, "range_percentage": 0.5},
                    {"type_params": {"template": "AA-00"}, "range_percentage": 0.5}]},
                {"name": "s_enum", "type": "string", "ranges": [
                    {"values": ["a", "b", "c"], "range_percentage": 0.5},
                    {"type_params": {"min_length": 3, "max_length": 5},
                     "range_percentage": 0.5}]},
            ],
        }
    },
}

# Multi-byte glyphs (Russian letters, ё) through every string path: the
# simple-string unranking, templates, a two-range column whose ranges
# are both Python-built, and a non-unique uuid column.
UNICODE_CFG = {
    "random_seed": 9,
    "models": {
        "unicode": {
            "rows_count": 4000,
            "columns": [
                {"name": "ru_s", "type": "string",
                 "type_params": {"locale": "ru", "min_length": 2, "max_length": 7},
                 "null_percentage": 0.15},
                {"name": "ru_t", "type": "string",
                 "type_params": {"locale": "ru", "template": "Aa-0 ё"}},
                {"name": "en_short", "type": "string",
                 "type_params": {"min_length": 1, "max_length": 4}},
                {"name": "s_mix", "type": "string", "ranges": [
                    {"type_params": {"locale": "ru", "min_length": 1, "max_length": 3},
                     "range_percentage": 0.6},
                    {"type_params": {"template": "a0#"}, "null_percentage": 0.3,
                     "range_percentage": 0.4}]},
                {"name": "uuid_half", "type": "uuid", "distinct_percentage": 0.5},
            ],
        }
    },
}

# Every Arrow type a column can come back as, enum ranges of each type
# (with a null literal), the ns datetime unit, phones and names inside a
# permuted column, ordered columns that are still jittered and
# mixed-width ranges that widen to the column's type.
TYPES_CFG = {
    "random_seed": 11,
    "models": {
        "types": {
            "rows_count": 3000,
            "columns": [
                {"name": "e_null", "type": "string", "values": ["x", None, "y"],
                 "null_percentage": 0.1},
                {"name": "e_int", "type": "integer", "ranges": [
                    {"values": [7, -3, 100], "range_percentage": 0.5},
                    {"type_params": {"bit_width": 64, "from": -10, "to": 10},
                     "range_percentage": 0.5}]},
                {"name": "f_enum", "type": "float", "values": [0.1, 2.5, -7.25]},
                {"name": "dt_ns", "type": "datetime",
                 "type_params": {"unit": "ns", "from": "2001-02-03T04:05:06.123456789Z",
                                 "to": "2003-01-01T00:00:00Z"},
                 "null_percentage": 0.05},
                {"name": "dt_enum", "type": "datetime",
                 "values": ["2020-01-01T00:00:00Z", "2021-06-01T12:00:00Z"]},
                {"name": "phone_n", "type": "string",
                 "type_params": {"logical_type": "phone"}, "null_percentage": 0.2},
                {"name": "last_ru", "type": "string",
                 "type_params": {"logical_type": "last_name", "locale": "ru"}},
                {"name": "uuid_ord", "type": "uuid", "ordered": True},
                {"name": "t_ord", "type": "string", "type_params": {"template": "0"},
                 "ordered": True},
                {"name": "s_ord", "type": "string",
                 "type_params": {"min_length": 3, "max_length": 6}, "ordered": True},
                {"name": "i8", "type": "integer", "type_params": {"bit_width": 8},
                 "null_percentage": 0.3},
                {"name": "f_mix", "type": "float", "ranges": [
                    {"type_params": {"bit_width": 32, "from": 0, "to": 1},
                     "range_percentage": 0.5},
                    {"type_params": {"bit_width": 64, "from": 5, "to": 6},
                     "null_percentage": 0.5, "range_percentage": 0.5}]},
            ],
        }
    },
}

# sha256[:16] of each model's rows, pinned before the Arrow-native
# kernels and the table-driven Feistel rounds landed: any change to a
# generated value (or its string form) moves a digest.
GOLDEN = {
    ("auto", "m"): "80046bfb8035e127",
    ("auto", "child"): "cb1070d151990d61",
    ("auto", "child_ord"): "18964d91d8e6b565",
    ("auto", "mixed"): "e4bda590835bf3e5",
    ("feistel", "m"): "2256156b7486b5b6",
    ("feistel", "child"): "2d3cb655a9d91c75",
    ("feistel", "child_ord"): "18964d91d8e6b565",
    ("feistel", "mixed"): "c1de62c99a4b322d",
    ("auto", "unicode"): "799855d4a6150fed",
    ("auto", "types"): "b551495d45882ab6",
    ("feistel", "unicode"): "95b3847beb5f37ac",
    ("feistel", "types"): "9f3274784422176e",
}


def _rows_digest(df) -> str:
    """Every column cast to string, rows ordered by id, fields joined by
    ``|`` (None written as ``\\N``) and rows by newlines; sha256[:16]."""
    import hashlib

    from pyspark.sql import functions as F

    rows = (
        df.select(*[F.col(c).cast("string") for c in df.columns])
        .orderBy(F.col("id").cast("long"))
        .collect()
    )
    text = "\n".join("|".join("\\N" if v is None else v for v in r) for r in rows)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


@pytest.mark.parametrize("permutation", ["auto", "feistel"])
def test_golden_engine_output(spark, permutation):
    """Engine output pinned end to end in both permutation tiers. The
    DuckDB oracle shares ``feistel_np`` with the engine, so only fixed
    digests catch a change to the kernels that both would follow."""
    got = {}
    for cfg, models in (
        (CFG, ("m", "child", "child_ord")),
        (MIXED_CFG, ("mixed",)),
        (UNICODE_CFG, ("unicode",)),
        (TYPES_CFG, ("types",)),
    ):
        eng = Engine(parse_config({**cfg, "permutation": permutation}))
        for model in models:
            got[(permutation, model)] = _rows_digest(eng.model_df_with_id(spark, model))
    want = {k: v for k, v in GOLDEN.items() if k[0] == permutation}
    assert got == want


# Every column closed-form (one ordered range, no jitter, no null gate):
# exhaustive integer ranges up to both int64 ends, enums of each type
# (with a null literal), names whose lists are shorter than the model,
# a constant datetime and 11-value datetime ranges in both units.
CLOSED_CFG = {
    "random_seed": 3,
    "models": {
        "closed": {
            "rows_count": 2000,
            "columns": [
                {"name": "i8", "type": "integer",
                 "type_params": {"bit_width": 8, "from": -128, "to": 127}, "ordered": True},
                {"name": "i16", "type": "integer",
                 "type_params": {"bit_width": 16, "from": -1000, "to": 999}, "ordered": True},
                {"name": "i32_top", "type": "integer",
                 "type_params": {"bit_width": 32, "from": 2**31 - 2000, "to": 2**31 - 1},
                 "ordered": True},
                {"name": "i64_top", "type": "integer",
                 "type_params": {"bit_width": 64, "from": 2**63 - 2000, "to": 2**63 - 1},
                 "ordered": True},
                {"name": "i64_bottom", "type": "integer",
                 "type_params": {"bit_width": 64, "from": -(2**63), "to": -(2**63) + 1999},
                 "ordered": True},
                {"name": "e_str", "type": "string", "values": ["b", None, "a", "zz"],
                 "ordered": True},
                {"name": "e_int", "type": "integer", "values": [2**31 - 1, 0, -(2**31), None],
                 "ordered": True},
                {"name": "e_float", "type": "float", "values": [1.5, -2.25, 3e30],
                 "ordered": True},
                {"name": "e_dt", "type": "datetime",
                 "values": ["2020-01-01T00:00:00Z", "1999-12-31T23:59:59Z"], "ordered": True},
                {"name": "first_en", "type": "string",
                 "type_params": {"logical_type": "first_name", "min_length": 3, "max_length": 4},
                 "ordered": True},
                {"name": "last_ru", "type": "string",
                 "type_params": {"logical_type": "last_name", "locale": "ru",
                                 "min_length": 3, "max_length": 4},
                 "ordered": True},
                {"name": "dt_const", "type": "datetime",
                 "type_params": {"from": "2020-01-01T00:00:00.123456Z",
                                 "to": "2020-01-01T00:00:00.123456Z"},
                 "ordered": True},
                {"name": "dt_sec", "type": "datetime",
                 "type_params": {"from": "2020-01-01T00:00:00Z", "to": "2020-01-01T00:00:10Z"},
                 "ordered": True},
                {"name": "dt_ns", "type": "datetime",
                 "type_params": {"unit": "ns", "from": "2020-01-01T00:00:00Z",
                                 "to": "2020-01-01T00:00:10Z"},
                 "ordered": True},
            ],
        }
    },
}


def test_closed_form_model_golden(spark):
    """A model of closed-form columns only runs the same Arrow map as
    any other model. Its digest was pinned when such a model was a
    ``select`` of hand-written native expressions, so the map must
    reproduce those values row for row: integers at both int64 ends,
    enums of every type with a null literal, names, a constant datetime
    with a sub-second part and whole-second ranges in both units."""
    eng = Engine(parse_config(CLOSED_CFG))
    plans = eng.plans_for(eng.cfg.models["closed"])
    assert len(plans) == 14 and all(p.pure_native for p in plans)
    assert _rows_digest(eng.model_df_with_id(spark, "closed")) == "abbf36342e1270a9"


def _task_slices(df):
    """(count, min id, max id) of each non-empty partition, by partition."""
    from pyspark.sql import functions as F

    return sorted(
        tuple(r)
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*"), F.min("id"), F.max("id"))
        .collect()
    )


def test_task_slices_match_range(spark):
    """Each generation task makes its own ids: partition p must hold
    exactly the ids of partition p of ``spark.range(lo, hi, 1, P)``, so
    part files and the rotation coalesce see the same layout. The last
    case, 10 rows over 64 tasks, leaves most tasks empty."""
    cfg = parse_config({"random_seed": 7, "models": {"m": {
        "rows_count": 1000, "generate_from": 13, "columns": [
            {"name": "v", "type": "integer", "type_params": {"bit_width": 64}},
            {"name": "k", "type": "integer",
             "type_params": {"bit_width": 64, "from": 1, "to": 1000}, "ordered": True}]}}})
    eng = Engine(cfg)
    for p, lo, hi in ((1, 13, 1000), (3, 13, 1000), (7, 13, 1000), (64, 13, 1000), (64, 990, 1000)):
        got = _task_slices(eng.model_df_with_id(spark, "m", generate_from=lo, generate_to=hi,
                                                num_partitions=p))
        assert got == _task_slices(spark.range(lo, hi, 1, p)), (p, lo, hi)


def test_rows_independent_of_arrow_batch_size(spark):
    """A task's ids are cut into Arrow batches of maxRecordsPerBatch; a
    7-row batch must generate the same rows as the default."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    eng = Engine(parse_config(MIXED_CFG))
    want = _rows_digest(eng.model_df_with_id(spark, "mixed"))
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        got = _rows_digest(eng.model_df_with_id(spark, "mixed"))
    finally:
        spark.conf.set(key, old)
    assert got == want


def test_integer_enum_int32_extremes_match_oracle(spark):
    """The int32 bounds are valid integer enum literals: the engine
    writes them unchanged and equals the DuckDB oracle on them, both in
    the whole model and, for the closed-form column ``o``, in the
    one-column model of ``column_df``."""
    import duckdb

    from sdvg_spark.oracle import column_oracle_sql

    lo, hi = -(2**31), 2**31 - 1
    cfg = parse_config({"random_seed": 4, "models": {"m": {"rows_count": 500, "columns": [
        {"name": "e", "type": "integer", "values": [hi, 0, lo]},
        {"name": "n", "type": "integer", "values": [lo, None, hi], "null_percentage": 0.1},
        {"name": "o", "type": "integer", "values": [hi, lo], "ordered": True}]}}})
    eng = Engine(cfg)
    rows = eng.model_df_with_id(spark, "m").collect()
    for col, values in (("e", {lo, 0, hi}), ("n", {lo, None, hi}), ("o", {lo, hi})):
        want = dict(duckdb.connect().execute(column_oracle_sql(cfg, "m", col)).fetchall())
        got = {r.id: r[col] for r in rows}
        assert got == want and len(got) == 500, col
        assert set(got.values()) == values, col
    assert {r.id: r.o for r in eng.column_df(spark, "m", "o").collect()} == got
