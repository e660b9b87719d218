"""Config frontend: Parse -> FillDefaults -> Validate semantics.

Mirrors the reference validation matrix (SURVEY.md §1.3; reference
models/models_test.go) — pure Python, no Spark session needed.
"""

from __future__ import annotations

import pytest

from sdvg_spark.config.model import ConfigError, parse_config


def _one_col_cfg(col: dict, rows: int = 100, **model_extra) -> dict:
    return {
        "random_seed": 1,
        "models": {"m": {"rows_count": rows, "columns": [col], **model_extra}},
    }


def test_integer_defaults():
    cfg = parse_config(_one_col_cfg({"name": "c", "type": "integer"}))
    p = cfg.models["m"].column("c").ranges[0].type_params
    assert p.bit_width == 32
    assert p.from_ == -(2**31) and p.to == 2**31 - 1


def test_string_defaults():
    cfg = parse_config(_one_col_cfg({"name": "c", "type": "string"}))
    p = cfg.models["m"].column("c").ranges[0].type_params
    assert p.min_length == 1 and p.max_length == 32
    assert p.locale == "en"


def test_bad_bit_width_rejected():
    with pytest.raises(ConfigError):
        parse_config(
            _one_col_cfg({"name": "c", "type": "integer", "type_params": {"bit_width": 24}})
        )


def test_from_greater_than_to_rejected():
    with pytest.raises(ConfigError):
        parse_config(
            _one_col_cfg(
                {"name": "c", "type": "integer", "type_params": {"from": 10, "to": 5}}
            )
        )


def test_distinct_percentage_xor_count():
    with pytest.raises(ConfigError):
        parse_config(
            _one_col_cfg(
                {
                    "name": "c",
                    "type": "integer",
                    "distinct_percentage": 0.5,
                    "distinct_count": 10,
                }
            )
        )


def test_fk_must_have_no_other_params():
    cfg = {
        "random_seed": 1,
        "models": {
            "p": {"rows_count": 10, "columns": [{"name": "id", "type": "integer"}]},
            "c": {
                "rows_count": 10,
                "columns": [{"name": "pid", "foreign_key": "p.id", "type": "integer"}],
            },
        },
    }
    with pytest.raises(ConfigError):
        parse_config(cfg)


def test_fk_target_must_exist():
    cfg = {
        "random_seed": 1,
        "models": {
            "c": {"rows_count": 10, "columns": [{"name": "pid", "foreign_key": "p.id"}]},
        },
    }
    with pytest.raises(ConfigError):
        parse_config(cfg)


def test_fk_to_fk_rejected():
    cfg = {
        "random_seed": 1,
        "models": {
            "a": {"rows_count": 10, "columns": [{"name": "id", "type": "integer"}]},
            "b": {"rows_count": 10, "columns": [{"name": "aid", "foreign_key": "a.id"}]},
            "c": {"rows_count": 10, "columns": [{"name": "bid", "foreign_key": "b.aid"}]},
        },
    }
    with pytest.raises(ConfigError):
        parse_config(cfg)


def test_range_percentages_balanced():
    """Missing range percentages share the remainder (reference
    generator_model.go:229-261); they must end up summing to 1."""
    cfg = parse_config(
        _one_col_cfg(
            {
                "name": "c",
                "type": "integer",
                "ranges": [
                    {"type_params": {"from": 0, "to": 9}, "range_percentage": 0.5},
                    {"type_params": {"from": 10, "to": 19}},
                    {"type_params": {"from": 20, "to": 29}},
                ],
            }
        )
    )
    pcts = [r.range_percentage for r in cfg.models["m"].column("c").ranges]
    assert pcts[0] == pytest.approx(0.5)
    assert sum(pcts) == pytest.approx(1.0)
    assert pcts[1] == pytest.approx(pcts[2])


def test_enum_values_sorted_nulls_first():
    cfg = parse_config(
        _one_col_cfg({"name": "c", "type": "string", "values": ["b", None, "a"]})
    )
    vals = cfg.models["m"].column("c").ranges[0].values
    assert vals[0] is None
    assert vals[1:] == ["a", "b"]


def test_enum_numeric_coercion_sorted():
    cfg = parse_config(
        _one_col_cfg({"name": "c", "type": "integer", "values": [3, 1, 2]})
    )
    vals = cfg.models["m"].column("c").ranges[0].values
    assert vals == [1, 2, 3]


def test_integer_enum_literal_outside_int32_rejected():
    """Integer enum values are 32-bit: a wider literal is a config
    error naming model.column and the literal, not a silent wrap."""
    for bad in (2**31, -(2**31) - 1, 3000000000):
        with pytest.raises(ConfigError, match=rf"m\.c: integer enum literal {bad} "):
            parse_config(_one_col_cfg({"name": "c", "type": "integer", "values": [5, bad]}))
    cfg = parse_config(
        _one_col_cfg({"name": "c", "type": "integer", "values": [2**31 - 1, None, -(2**31)]})
    )
    assert cfg.models["m"].column("c").ranges[0].values == [None, -(2**31), 2**31 - 1]


def test_generate_from_to_defaults():
    cfg = parse_config(_one_col_cfg({"name": "c", "type": "integer"}, rows=50))
    m = cfg.models["m"]
    assert (m.generate_from, m.generate_to) == (0, 50)


def test_generate_slice_validated():
    with pytest.raises(ConfigError):
        parse_config(
            _one_col_cfg(
                {"name": "c", "type": "integer"}, rows=50, generate_from=40, generate_to=30
            )
        )


def test_models_to_ignore_must_exist():
    cfg = {
        "random_seed": 1,
        "models_to_ignore": ["nope"],
        "models": {"m": {"rows_count": 5, "columns": [{"name": "c", "type": "integer"}]}},
    }
    with pytest.raises(ConfigError):
        parse_config(cfg)


def test_unknown_type_rejected():
    with pytest.raises(ConfigError):
        parse_config(_one_col_cfg({"name": "c", "type": "decimal"}))


@pytest.mark.parametrize(
    "model_extra,output,field",
    [
        ({"rows_per_file": -1}, {}, "rows_per_file"),
        ({}, {"delimiter": ""}, "delimiter"),
        ({}, {"delimiter": "::"}, "delimiter"),
        ({}, {"float_precision": -1}, "float_precision"),
        ({}, {"checkpoint_rows": -1}, "checkpoint_rows"),
        ({}, {"without_headers": "false"}, "without_headers"),
        ({}, {"checkpoint_rows": "10"}, "checkpoint_rows"),
        ({}, {"params": {"float_precision": 2.5}}, "float_precision"),
    ],
    ids=["rows_per_file<0", "delimiter=''", "delimiter='::'", "float_precision<0",
         "checkpoint_rows<0", "without_headers=str", "checkpoint_rows=str", "params.float"],
)
def test_bad_output_values_rejected_at_parse(model_extra, output, field):
    raw = _one_col_cfg({"name": "c", "type": "integer"}, **model_extra)
    raw["output"] = {"type": "csv", "dir": "/tmp/out", **output}
    with pytest.raises(ConfigError, match=field):
        parse_config(raw)


def test_output_values_of_the_field_type_accepted():
    raw = _one_col_cfg({"name": "c", "type": "integer"})
    raw["output"] = {"type": "http", "endpoint": "http://localhost:1",
                     "params": {"timeout_seconds": 5, "delimiter": "\t", "headers": {"a": "b"}},
                     "not_a_field": object()}
    out = parse_config(raw).output
    assert (out.timeout_seconds, out.delimiter, out.headers) == (5, "\t", {"a": "b"})
