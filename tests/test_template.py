"""Unit tests for the Go text/template subset used by the HTTP sink.

Cases mirror the template shapes exercised by the reference's HTTP
writer tests (writer/http/http_test.go) and its default body template
(models/generator_output.go:17).
"""

import json

import pytest

from sdvg_spark.sinks.template import DEFAULT_BODY_TEMPLATE, TemplateError, render


def test_default_body_template():
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
    out = render(DEFAULT_BODY_TEMPLATE, {"ModelName": "users", "Rows": rows})
    parsed = json.loads(out)
    assert parsed == {"table_name": "users", "rows": rows}


def test_field_access_and_literal_text():
    out = render("hello {{ .Name }}!", {"Name": "world"})
    assert out == "hello world!"


def test_nested_field_access():
    out = render("{{ .A.B.C }}", {"A": {"B": {"C": 42}}})
    assert out == "42"


def test_json_func():
    out = render("{{ json .Rows }}", {"Rows": [1, 2, 3]})
    assert json.loads(out) == [1, 2, 3]


def test_len_func():
    out = render("n={{ len .Rows }}", {"Rows": [1, 2, 3]})
    assert out == "n=3"


def test_index_func():
    out = render("{{ index .Rows 1 }}", {"Rows": ["a", "b", "c"]})
    assert out == "b"


def test_range_loop_rebinds_dot():
    out = render("{{ range .Rows }}[{{ .v }}]{{ end }}", {"Rows": [{"v": 1}, {"v": 2}]})
    assert out == "[1][2]"


def test_range_over_bare_dot_items():
    out = render("{{ range .Rows }}{{ . }},{{ end }}", {"Rows": ["x", "y"]})
    assert out == "x,y,"


def test_nested_range():
    ctx = {"Outer": [{"Inner": [1, 2]}, {"Inner": [3]}]}
    out = render(
        "{{ range .Outer }}({{ range .Inner }}{{ . }}{{ end }}){{ end }}", ctx
    )
    assert out == "(12)(3)"


def test_string_literal_and_int_literal():
    assert render('{{ "lit" }}', {}) == "lit"
    assert render("{{ 7 }}", {}) == "7"


def test_missing_field_raises():
    with pytest.raises(TemplateError):
        render("{{ .Nope }}", {"Name": "x"})


def test_unsupported_expr_raises():
    with pytest.raises(TemplateError):
        render("{{ printf .X }}", {"X": 1})


def test_non_string_values_json_encoded():
    # dict/list values render as JSON, matching Go's json func usage
    out = render("{{ .M }}", {"M": {"k": 1}})
    assert json.loads(out) == {"k": 1}


def test_trim_markers():
    out = render('{ "rows":\n  {{- json .Rows }} }', {"Rows": [1]})
    assert out == '{ "rows":[1] }'
    out = render("a {{- 1 -}} b", {})
    assert out == "a1b"


def test_datetimes_render_in_utc_with_z():
    """A tz-aware datetime is rendered in UTC ending in ``Z``, as Go's
    json.Marshal renders a UTC time.Time; a naive one is taken as UTC."""
    import datetime as dt

    want = '["2024-01-01T07:57:56.123456Z"]'
    utc = dt.datetime(2024, 1, 1, 7, 57, 56, 123456, tzinfo=dt.timezone.utc)
    tokyo = utc.astimezone(dt.timezone(dt.timedelta(hours=9)))
    for v in (utc, tokyo, utc.replace(tzinfo=None)):
        assert render("{{ json .V }}", {"V": [v]}) == want, v


def test_datetimes_keep_their_fraction_as_rfc3339nano():
    """Go's json.Marshal writes a time.Time as RFC3339Nano: the
    sub-second fraction with its trailing zeros trimmed, none at all
    when it is zero."""
    import datetime as dt

    cases = {0: "2020-01-01T00:00:00Z", 87164: "2020-01-01T00:00:00.087164Z",
             500000: "2020-01-01T00:00:00.5Z", 10: "2020-01-01T00:00:00.00001Z",
             999999: "2020-01-01T00:00:00.999999Z"}
    for us, want in cases.items():
        v = dt.datetime(2020, 1, 1, 0, 0, 0, us)
        assert json.loads(render("{{ json .V }}", {"V": [v]})) == [want], us
        assert render("{{ .V }}", {"V": v}) == json.dumps(want), us
